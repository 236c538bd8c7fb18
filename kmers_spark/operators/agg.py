"""Metadata-only aggregate pushdown over the compressed store.

`agg_table` answers count/min/max/sum (the Iceberg/Spark
metadata-only-aggregate set, plus sum) from the manifest's per-block
stats — n_rows, zone bounds, null counts (znull), overflow-checked int
sums (zsum) — decoding payload bytes ONLY where stats cannot prove the
answer:

  * no filters: count(*) / count(col) / sum(int64 col) / min / max over
    exact-bounds types (int64, timestamps, finite doubles) run with
    ZERO Spark jobs — a pure driver-side walk of the manifest stats,
    whatever the table's size. At 10^12 rows this is the difference
    between a metadata read and a 100 TB scan.
  * range filters: buckets whose bounds exclude the predicate are
    pruned (zonemap.prune_buckets, as scans do); buckets whose bounds
    prove EVERY row matches (zonemap.must_match + znull == 0) are
    counted from stats; only the boundary-straddling buckets decode —
    and only the columns the aggregate + filters actually need.
  * string min/max (unfiltered): zone bounds are width-truncated, so
    the exact extreme is found by decoding only the CANDIDATE buckets —
    truncation is monotone w.r.t. lexicographic order, so the block
    holding the true minimum always carries the globally minimal zmin
    (dually for max); every other bucket is skipped.
  * anything stats can't prove (binary columns, pre-znull snapshots,
    filtered string extremes, non-finite doubles) falls back to a
    bucket-restricted decode — never a full scan unless every bucket
    genuinely straddles. A decode within decode.LOCAL_READ_MAX_BYTES
    runs in the driver and aggregates with pyarrow.compute: no Spark
    job at all.

The same wave/generation stats streams and mutations maintain
(encode commit, writeStream sink, delete/upsert rewrites) feed this —
a mutated store's aggregates stay exact because merge-on-write
regenerates block stats for rewritten buckets.

Reference parity note: the reference engine (COMBINE-lab/kmers) has no
aggregate surface — this is engine-native functionality in the style
of Iceberg's metadata aggregates / Parquet column-index stats reads.
"""

from __future__ import annotations

import datetime
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import manifest, zonemap
from .decode import (
    _ColocatedRead,
    _filters_expr,
    bloom_prune_filters,
    decode_colocated,
)

_AGG_FNS = ("count", "min", "max", "sum", "count_distinct",
            "approx_count_distinct")
_EXACT_BOUND_TYPES = ("int64", "timestamp", "timestamp_ntz", "double")


def _epoch_us_to_dt(v: int) -> datetime.datetime:
    return datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=v)


def _stats_value_to_py(v: Any, typ: str) -> Any:
    """Manifest bound -> the python value Spark's collect would return
    (timestamps ride as epoch-us ints in stats)."""
    if typ in ("timestamp", "timestamp_ntz"):
        return _epoch_us_to_dt(int(v))
    return v


def _combine_extreme(fn: str, a, b):
    """min/max combine with SQL/Spark NaN semantics (NaN is GREATER
    than every other double; Python's min/max are order-dependent on
    NaN and would silently drop it). Stats-side bounds are never NaN
    (_json_safe_pair drops non-finite blocks to the decode path), so
    only decoded partials can introduce one."""
    import math

    a_nan = isinstance(a, float) and math.isnan(a)
    b_nan = isinstance(b, float) and math.isnan(b)
    if fn == "max":
        if a_nan or b_nan:
            return float("nan")
        return max(a, b)
    if a_nan:
        return b
    if b_nan:
        return a
    return min(a, b)


def _entries(stats: list[dict], col: str) -> list[dict]:
    return [s for s in stats if s["column"] == col]


def _bucket_rows(stats: list[dict], key: str) -> int:
    """Total rows of a bucket = the key column's n_rows across
    generations (the key exists in every generation; evolved columns
    may not)."""
    return sum(int(s.get("n_rows", 0)) for s in _entries(stats, key))


def _bucket_contained(stats: list[dict], key: str,
                      norm: list[tuple], schema: dict[str, str]) -> bool:
    """Can stats prove EVERY row of this bucket matches all filters?
    Requires, per filter column: bounds present and must_match for
    every generation, zero nulls, and full row coverage (an evolved
    column missing from older generations leaves null rows that match
    no predicate)."""
    rows = _bucket_rows(stats, key)
    for col, op, bv, _orig in norm:
        ents = _entries(stats, col)
        if sum(int(s.get("n_rows", 0)) for s in ents) != rows:
            return False
        for s in ents:
            if s.get("znull") is None or s["znull"] != 0:
                return False
            if schema[col] == "double" and s.get("znan") != 0:
                # NaN rows satisfy no comparison, but zone bounds are
                # NaN-blind (Arrow min_max skips NaN): a block with
                # NaNs is never provably all-matching
                return False
            rng = (s["zmin"], s["zmax"]) if "zmin" in s and "zmax" in s \
                else None
            if not zonemap.must_match(rng, op, bv, schema[col]):
                return False
    return True


def _hll_registers_multi(rows: DataFrame | pa.Table,
                         col_types: dict[str, str]) -> dict:
    """{column: merged HLL registers} over the decoded rows, built with
    the engine's OWN sketch kernel (NOT Spark's approx_count_distinct —
    a different sketch would break the merged-estimate determinism). A
    driver-decoded table hashes in place; a DataFrame runs ONE
    mapInArrow pass computing every requested column's registers
    (per-partition 1 KB blobs), and the driver max-merges. Batches stay
    Arrow end-to-end, so null-bearing int64 columns keep exact values
    (no pandas float64 round-trip); hll_build_arrow drops nulls like
    count_distinct does."""
    import numpy as np

    from ..kernels import sketch as sketchkern

    cols = sorted(col_types)
    if isinstance(rows, pa.Table):
        return {c: sketchkern.hll_build_arrow(rows.column(c), col_types[c])
                for c in cols}
    src = rows.select(*cols)

    def build(batches):
        regs: dict[str, object] = {}
        for batch in batches:
            for ci, c in enumerate(cols):
                r = sketchkern.hll_build_arrow(batch.column(ci),
                                               col_types[c])
                if r is not None:
                    regs[c] = r if c not in regs else \
                        sketchkern.merge([regs[c], r])
        if regs:
            items = sorted(regs.items())
            yield pa.record_batch(
                [pa.array([c for c, _r in items]),
                 pa.array([r.tobytes() for _c, r in items])],
                ["col", "regs"],
            )

    out: dict = {}
    for r in src.mapInArrow(build, "col string, regs binary").collect():
        regs = np.frombuffer(r["regs"], np.uint8)
        out[r["col"]] = regs if r["col"] not in out else \
            sketchkern.merge([out[r["col"]], regs])
    return out


# column types the driver aggregate reduces with pyarrow.compute; an
# aggregate over another type (float_array) keeps the Spark plan
_ARROW_AGG_TYPES = ("int64", "double", "string", "binary", "timestamp",
                    "timestamp_ntz")


def _decoded(spark: SparkSession, out_dir: str, m: dict, need: list[str],
             filters: list[tuple] | None, norm: list[tuple], buckets: list[int],
             schema: dict[str, str], driver: bool = True) -> DataFrame | pa.Table:
    """The rows of `buckets` that match the filters, `need` columns
    only, at the snapshot `m`. A read within LOCAL_READ_MAX_BYTES (and
    `driver` allowed) is a pa.Table decoded in the driver, whose kernel
    mask already applied the filters exactly; anything else is a
    decode_colocated DataFrame with the residual filter on top. Both
    plans share one set-up (one block-stats read)."""
    read = _ColocatedRead(spark, out_dir, need, filters, buckets, m)
    if driver:
        table = read.local_table()
        if table is not None:
            return table
    df = decode_colocated(spark, out_dir, columns=need, filters=filters,
                          buckets=buckets, snapshot=m, read=read)
    return df.filter(_filters_expr(norm, schema)) if norm else df


def _int_sum(arr: pa.ChunkedArray, col: str) -> int | None:
    """Exact sum of an int64 column, None when it has no non-null row.
    Arrow's sum wraps on overflow, so the high and low 32-bit halves
    sum apart (neither can overflow below 2^31 rows) and join in
    Python; a total outside int64 raises, as Spark's ANSI sum does."""
    if not pc.count(arr).as_py():
        return None
    hi = pc.sum(pc.shift_right(arr, 32)).as_py()
    lo = pc.sum(pc.bit_wise_and(arr, 0xFFFFFFFF)).as_py()
    total = (hi << 32) + lo
    if not -(1 << 63) <= total < (1 << 63):
        raise OverflowError(f"long overflow: sum({col}) exceeds int64")
    return total


def _arrow_agg(table: pa.Table, fn: str, col: str, typ: str | None) -> Any:
    """One aggregate over driver-decoded rows, with the value Spark's
    agg().collect() would return: count(col), min and max skip nulls;
    min/max/sum of no rows are None; NaN is the greatest double (an
    all-NaN column's extremes are NaN); count_distinct counts every
    NaN as one value and -0.0 as 0.0 (Spark's float normalisation);
    strings and binary compare bytewise; timestamps come back as naive
    UTC datetimes, like the stats path."""
    if col == "*":
        return table.num_rows
    arr = table.column(col)
    if fn == "count":
        return pc.count(arr).as_py()
    if fn == "count_distinct":
        if typ == "double":
            arr = pc.if_else(pc.is_nan(arr), float("nan"),
                             pc.if_else(pc.equal(arr, 0.0), 0.0, arr))
        return pc.count_distinct(arr).as_py()
    if fn == "sum":
        return pc.sum(arr).as_py() if typ == "double" else _int_sum(arr, col)
    # min / max
    nans = 0
    if typ == "double":
        isnan = pc.fill_null(pc.is_nan(arr), False)
        nans = pc.sum(isnan).as_py()
        arr = arr.filter(pc.invert(isnan))  # Arrow's min_max skips NaN,
        # and answers +/-inf for an all-NaN array
    elif typ in ("timestamp", "timestamp_ntz"):
        arr = arr.cast(pa.int64())
    v = pc.min_max(arr)[fn].as_py()
    if nans:
        v = float("nan") if v is None else _combine_extreme(fn, v, float("nan"))
    return None if v is None else _stats_value_to_py(v, typ)


def agg_table(spark: SparkSession, out_dir: str,
              aggs: list[tuple[str, str]],
              filters: list[tuple] | None = None,
              version: int | None = None) -> dict[str, Any]:
    """Exact aggregates over the store with stats-first evaluation.

    `aggs` is a list of (fn, column) with fn in {"count", "min", "max",
    "sum", "avg", "count_distinct"}; column "*" is allowed for count.
    count_distinct over the KEY column is answered from per-block zndv
    stats when the bucket scheme maps each key to exactly one bucket
    (hash/salted schemes — the salt is derived from the key itself —
    and range stores clustered ON the key, whose heavy-value overflow
    also salts by key hash): distinct sets are bucket-disjoint, so
    per-bucket counts ADD. Non-key columns, external/streamed stores,
    and range-on-other-column stores decode (still zone/Bloom-pruned
    under filters). approx_count_distinct (~3.2%
    stderr, deterministic) max-merges the per-block HLL sketches
    `encode_table(ndv_columns=[...])` records — register union is
    overlap-insensitive, so it runs with zero Spark jobs on exactly the
    layouts exact zndv counts cannot serve (non-key columns, streamed
    generations, range-on-other, external sink buckets); unsketched
    buckets decode through the same hash kernel, leaving the estimate
    identical to a single pass over the value set. Returns
    {"fn_col": value} ("count_star" for count(*)), with SQL semantics:
    count(col) skips nulls, min/max skip nulls and return None on no
    rows, sum/avg return None on no (non-null) rows. avg is derived —
    internally evaluated as sum(col)/count(col), so it inherits their
    stats-first evaluation (metadata-only for unfiltered int64
    columns). `filters` uses the scan_table triple syntax, ANDed.
    `version` pins a time-travel read.

    Whatever stats cannot prove decodes once per distinct bucket set.
    A decode whose payload fits LOCAL_READ_MAX_BYTES runs in the
    driver (decode_colocated's driver plan, as a pa.Table) and is
    reduced there with pyarrow.compute and the sketch kernel, so the
    whole call launches no Spark job, at any version; a larger decode
    costs one job per bucket set. Both plans return the same values
    (see _arrow_agg).
    """
    if not aggs:
        raise ValueError("aggs must not be empty")
    if any(fn == "avg" for fn, _c in aggs):
        inner = []
        for fn, col in aggs:
            if fn == "avg":
                inner.extend([("sum", col), ("count", col)])
            else:
                inner.append((fn, col))
        res = agg_table(spark, out_dir, inner, filters=filters,
                        version=version)
        out = {}
        for fn, col in aggs:
            if fn == "avg":
                s, c = res[f"sum_{col}"], res[f"count_{col}"]
                out[f"avg_{col}"] = None if not c or s is None else s / c
            else:
                out["count_star" if col == "*" else f"{fn}_{col}"] = \
                    res["count_star" if col == "*" else f"{fn}_{col}"]
        return out
    m = manifest.load(out_dir, version=version)
    if m is None:
        raise FileNotFoundError(f"no manifest in {out_dir}")
    schema = manifest.ordered_schema(m)
    key = m["key"]
    for fn, col in aggs:
        if fn not in _AGG_FNS:
            raise ValueError(f"unsupported agg fn {fn!r} (supported: {_AGG_FNS})")
        if col == "*":
            if fn != "count":
                raise ValueError(f"{fn}(*) is not defined; only count(*)")
        elif col not in schema:
            raise KeyError(f"column {col!r} not in snapshot schema")
        if fn == "sum" and col != "*" and schema[col] not in (
            "int64", "double"
        ):
            raise TypeError(f"sum over {schema[col]} column {col!r}")
        if fn == "approx_count_distinct" and schema[col] not in (
            "string", "int64"
        ):
            raise TypeError(
                f"approx_count_distinct over {schema[col]} column {col!r} "
                "(distinct sketches support string and int64)"
            )
    norm = zonemap.normalize_filters(filters or [], schema)
    blocks = manifest.block_stats(out_dir, m)
    committed = list(m.get("committed_buckets", []))
    surviving = zonemap.prune_buckets(m, norm, blocks=blocks) if norm \
        else committed
    if norm:
        # column Bloom sidecars: a bucket whose filter proves an
        # equality probe absent holds ZERO matching rows — dropping it
        # is exact for every aggregate, same as zone-bound pruning
        surviving = bloom_prune_filters(out_dir, m, norm, surviving)
    contained, straddling = [], []
    for b in surviving:
        bs = blocks.get(str(b), [])
        if not norm or _bucket_contained(bs, key, norm, schema):
            contained.append(b)
        else:
            straddling.append(b)

    # Per-agg stats pass: accumulate what stats can prove; route the
    # rest to decode. results[i] is the stats-side partial; decode_of[i]
    # the bucket set whose rows must be decoded for agg i.
    results: list[Any] = [None] * len(aggs)
    decode_of: list[set[int]] = [set(straddling) for _ in aggs]
    pending_hll: list[tuple] = []  # deferred sketch decodes, grouped below

    for i, (fn, col) in enumerate(aggs):
        typ = schema.get(col) if col != "*" else None
        if fn == "count" and col == "*":
            results[i] = sum(
                _bucket_rows(blocks.get(str(b), []), key) for b in contained
            )
            continue
        if fn == "count":
            # bucket granularity: a bucket with ANY pre-znull entry
            # decodes whole (mixing its stats with a bucket-level
            # decoded count would double-count)
            total = 0
            for b in contained:
                ents = _entries(blocks.get(str(b), []), col)
                if any(s.get("znull") is None for s in ents):
                    decode_of[i].add(b)
                else:
                    total += sum(
                        int(s["n_rows"]) - int(s["znull"]) for s in ents
                    )
            results[i] = total
            continue
        if fn == "count_distinct":
            from . import partitioning

            scheme = m.get("bucket_scheme", partitioning.LEGACY_SCHEME)
            # keys are bucket-disjoint (per-bucket distinct counts ADD)
            # only when the scheme derives the bucket from the key:
            # hash/salted (salt = xxhash64(key) % n), or range clustered
            # ON the key (overflow ties also salt by key hash). A
            # streamed store holds several generations of a bucket whose
            # key sets overlap, so its per-entry counts never add.
            key_disjoint = (
                col == key
                and not m.get("streamed")
                and (
                    # explicit allowlist, NOT a denylist: a scheme this
                    # code has never seen (zorder derives buckets from
                    # the cluster columns, external from nothing the
                    # engine saw) must fall to the exact decode path
                    scheme in (partitioning.BUCKET_SCHEME,
                               partitioning.LEGACY_SCHEME)
                    or (scheme == partitioning.RANGE_SCHEME
                        and m.get("cluster_by") == key)
                )
            )
            results[i] = 0
            if not key_disjoint:
                decode_of[i].update(contained)  # one decode, whole
                continue                        # survivor set: exact
            total = 0
            for b in contained:
                ents = _entries(blocks.get(str(b), []), col)
                if not ents:
                    continue  # committed-empty bucket
                if len(ents) != 1 or ents[0].get("zndv") is None:
                    decode_of[i].add(b)  # pre-zndv snapshot: decode it
                else:
                    total += int(ents[0]["zndv"])
            results[i] = total
            continue
        if fn == "approx_count_distinct":
            # HLL union (kernels/sketch.py): register-max is overlap-
            # insensitive, so per-block sketches merge across ANY
            # layout — streamed generations, range-on-other, external
            # sink buckets — where exact zndv counts can never add.
            # Buckets without full sketch coverage decode and their
            # values hash through the SAME kernel, so the estimate is
            # identical to a single pass over the value set whatever
            # mix of stats and decode answered it (sketch.py invariant;
            # re-covering a sketched value via decode cannot move a
            # union). Contained buckets' sketches are exact for the
            # filtered set (every row matches); straddlers decode with
            # the filters applied. The decode itself is DEFERRED: all
            # approx aggs sharing a bucket subset decode once below.
            from ..kernels import sketch as sketchkern

            decode_of[i] = set()  # this branch runs its own decode —
            # the generic pass would re-aggregate with Spark's
            # different sketch
            merged = None
            hll_decode: set[int] = set(straddling)
            for b in contained:
                ents = _entries(blocks.get(str(b), []), col)
                for s in ents:
                    regs = (sketchkern.unpack(s["zhll"])
                            if s.get("zhll") is not None else None)
                    if regs is not None:
                        merged = regs if merged is None else \
                            sketchkern.merge([merged, regs])
                    elif s.get("znull") != s.get("n_rows"):
                        # live rows without a sketch (pre-ndv snapshot,
                        # column not in ndv_columns, foreign algo):
                        # decode the bucket — still pruned, never wrong
                        hll_decode.add(b)
            pending_hll.append((i, col, frozenset(hll_decode), merged))
            continue
        if fn == "sum":
            total, saw = 0, False
            for b in contained:
                ents = _entries(blocks.get(str(b), []), col)
                ok = all(
                    "zsum" in s or s.get("znull") == s.get("n_rows")
                    for s in ents
                )
                if not ok:
                    decode_of[i].add(b)  # no zsum (double / overflow
                    # risk / pre-zsum snapshot): decode to stay exact
                    continue
                for s in ents:
                    if "zsum" in s:
                        total += int(s["zsum"])
                        saw = True
            results[i] = total if saw else None
            continue
        # min / max (idempotent combines: a bucket contributing both a
        # stats bound and decoded rows cannot skew the result, so these
        # stay entry-granular)
        if typ in _EXACT_BOUND_TYPES:
            best = None

            def _take(v):
                nonlocal best
                best = v if best is None else _combine_extreme(fn, best, v)

            for b in contained:
                for s in _entries(blocks.get(str(b), []), col):
                    if typ == "double":
                        # doubles need NaN accounting: bounds are
                        # NaN-blind, SQL extremes are not (NaN is the
                        # greatest double; min of only-NaNs is NaN)
                        znull, znan = s.get("znull"), s.get("znan")
                        if znull is None or znan is None:
                            # stores written before znan/znull were
                            # recorded are still on disk: NaNs unknowable
                            decode_of[i].add(b)
                            continue
                        live = int(s.get("n_rows", 0)) - znull
                        if live == 0:
                            continue
                        if znan > 0:
                            _take(float("nan"))
                        if live - znan > 0:
                            if "zmin" in s:
                                _take(s["zmin"] if fn == "min"
                                      else s["zmax"])
                            else:  # finite rows without bounds: +/-inf
                                decode_of[i].add(b)
                        continue
                    if "zmin" in s and "zmax" in s:
                        _take(s["zmin"] if fn == "min" else s["zmax"])
                    elif s.get("znull") == s.get("n_rows"):
                        pass
                    else:
                        decode_of[i].add(b)
            results[i] = None if best is None \
                else _stats_value_to_py(best, typ)
        elif typ == "string" and not norm:
            # candidate pruning: truncation is order-monotone, so the
            # bucket holding the true extreme always shows the extreme
            # truncated bound; everything else is skipped
            extreme = None
            unbounded: set[int] = set()
            for b in contained:
                for s in _entries(blocks.get(str(b), []), col):
                    if "zmin" in s and "zmax" in s:
                        v = s["zmin"] if fn == "min" else s["zmax"]
                        extreme = v if extreme is None else (
                            min(extreme, v) if fn == "min"
                            else max(extreme, v)
                        )
                    elif s.get("znull") != s.get("n_rows"):
                        unbounded.add(b)  # live rows, no bounds
                        # (truncate_max overflow): must inspect
            for b in contained:
                if b in unbounded:
                    decode_of[i].add(b)
                    continue
                for s in _entries(blocks.get(str(b), []), col):
                    if "zmin" in s and (
                        s["zmin"] if fn == "min" else s["zmax"]
                    ) == extreme:
                        decode_of[i].add(b)
                        break
            results[i] = None
        else:
            # filtered string extremes, binary columns: stats can't
            # prove the exact value — decode every surviving bucket's
            # needed columns (still zone-pruned, never a full scan
            # unless every bucket may match)
            decode_of[i].update(contained)
            results[i] = None

    # Sketch-decode pass: approx aggs grouped by identical bucket
    # subsets — ONE decode per subset computes every needed column's
    # registers (N approx aggs over the same straddlers must not decode
    # those buckets N times): in the driver when it fits, else in a
    # single mapInArrow job.
    if pending_hll:
        from ..kernels import sketch as sketchkern

        hll_groups: dict[frozenset, list] = {}
        for item in pending_hll:
            i, col, bset, merged = item
            if bset:
                hll_groups.setdefault(bset, []).append(item)
            else:
                results[i] = 0 if merged is None else \
                    int(round(sketchkern.estimate(merged)))
        for bset, items in hll_groups.items():
            need_cols = {c: schema[c] for _i, c, _b, _m in items}
            need = sorted(set(need_cols)
                          | {c for c, _o, _bv, _v in norm})
            rows = _decoded(spark, out_dir, m, need, filters,
                            norm, sorted(bset), schema)
            reg_map = _hll_registers_multi(rows, need_cols)
            for i, col, _b, merged in items:
                decoded = reg_map.get(col)
                if decoded is not None:
                    merged = decoded if merged is None else \
                        sketchkern.merge([merged, decoded])
                results[i] = 0 if merged is None else \
                    int(round(sketchkern.estimate(merged)))

    # Decode pass: group aggs by identical bucket subsets so each
    # subset decodes the union of its needed columns ONCE — in the
    # driver, reduced with pyarrow.compute (no Spark job), when the
    # read fits LOCAL_READ_MAX_BYTES; as one Spark job otherwise.
    fcols = [c for c, _op, _bv, _v in norm]
    groups: dict[frozenset, list[int]] = {}
    for i in range(len(aggs)):
        if decode_of[i]:
            groups.setdefault(frozenset(decode_of[i]), []).append(i)
    for bucket_set, idxs in groups.items():
        need = sorted({aggs[i][1] for i in idxs if aggs[i][1] != "*"}
                      | set(fcols)) or [key]
        arrow_ok = all(aggs[i][1] == "*"
                       or schema[aggs[i][1]] in _ARROW_AGG_TYPES for i in idxs)
        rows = _decoded(spark, out_dir, m, need, filters, norm,
                        sorted(bucket_set), schema, driver=arrow_ok)
        if isinstance(rows, pa.Table):
            vals = [_arrow_agg(rows, *aggs[i], schema.get(aggs[i][1]))
                    for i in idxs]
        else:
            row = rows.agg(*[
                (F.count(F.lit(1)) if aggs[i][1] == "*"
                 else getattr(F, aggs[i][0])(F.col(aggs[i][1]))).alias(f"a{i}")
                for i in idxs
            ]).collect()[0]
            vals = [row[f"a{i}"] for i in idxs]
        for i, v in zip(idxs, vals):
            fn, col = aggs[i]
            if fn in ("count", "count_distinct"):
                # count_distinct partials add because the stats path
                # only ever splits buckets when keys are bucket-disjoint
                results[i] = (results[i] or 0) + int(v)
            elif v is None:
                pass
            elif fn == "sum":
                results[i] = v if results[i] is None else results[i] + v
            elif results[i] is None:
                results[i] = v
            else:
                results[i] = _combine_extreme(fn, results[i], v)

    out = {}
    for i, (fn, col) in enumerate(aggs):
        name = "count_star" if col == "*" else f"{fn}_{col}"
        out[name] = results[i]
    return out


def agg_table_grouped(spark: SparkSession, out_dir: str,
                      group_by: list[str],
                      aggs: list[tuple[str, str]],
                      filters: list[tuple] | None = None,
                      version: int | None = None) -> DataFrame:
    """GROUP BY pushdown over the compressed store; returns a DataFrame
    of group_by columns + one column per agg (fn_col / count_star).

    Two-stage evaluation, all pruning layers applied first:

      * SINGLE-GROUP buckets — every generation's stats for every group
        column show zmin == zmax (one value), zero nulls, full row
        coverage — contribute per-group partials straight from stats
        (count from n_rows/znull, sum from zsum, min/max from bounds).
        On a store range-clustered or z-ordered BY the group columns
        most buckets are single-group, so "GROUP BY lang" over 10^12
        rows degenerates to a manifest walk plus a decode of only the
        straddling buckets. All-or-nothing per bucket: a bucket whose
        stats can't prove EVERY agg decodes whole (no partial mixing to
        reason about).
      * everything else decodes ONLY group + agg + filter columns
        (late materialization) and aggregates in Spark.

    Partials merge by a second groupBy (counts/sums add, extremes
    combine; null partials from all-null decoded groups drop out under
    SQL skip-null semantics). Supported fns: count/min/max/sum/avg
    (avg derived from sum+count so it merges exactly);
    count_distinct/approx_count_distinct are per-group set operations
    the per-block stats cannot split — use the ungrouped forms with a
    group filter, or decode.

    NaN rule: a double agg column's bucket with znan > 0 (or pre-znan
    stats) decodes — grouped extremes follow the same NaN-greatest SQL
    semantics the ungrouped path implements.
    """
    if not group_by:
        raise ValueError("group_by must not be empty")
    if not aggs:
        raise ValueError("aggs must not be empty")
    m = manifest.load(out_dir, version=version)
    if m is None:
        raise FileNotFoundError(f"no manifest in {out_dir}")
    schema = manifest.ordered_schema(m)
    key = m["key"]
    for g in group_by:
        if g not in schema:
            raise KeyError(f"group column {g!r} not in snapshot schema")
        if schema[g] == "binary":
            raise TypeError("grouping by a binary column is unsupported")
    inner: list[tuple[str, str]] = []
    for fn, col in aggs:
        if fn not in ("count", "min", "max", "sum", "avg"):
            raise ValueError(
                f"unsupported grouped agg fn {fn!r} "
                "(supported: count/min/max/sum/avg)")
        if col == "*" and fn != "count":
            raise ValueError(f"{fn}(*) is not defined; only count(*)")
        if col != "*" and col not in schema:
            raise KeyError(f"column {col!r} not in snapshot schema")
        if fn == "sum" and schema.get(col) not in ("int64", "double"):
            raise TypeError(f"sum over {schema.get(col)} column {col!r}")
        if fn == "avg":
            inner.extend([("sum", col), ("count", col)])
        else:
            inner.append((fn, col))
    inner = list(dict.fromkeys(inner))
    norm = zonemap.normalize_filters(filters or [], schema)
    blocks = manifest.block_stats(out_dir, m)
    committed = list(m.get("committed_buckets", []))
    surviving = zonemap.prune_buckets(m, norm, blocks=blocks) if norm \
        else committed
    if norm:
        surviving = bloom_prune_filters(out_dir, m, norm, surviving)

    def _single_group(bs: list[dict]) -> tuple | None:
        """The bucket's one (g1, g2, ...) tuple, or None if any group
        column may vary / hold nulls / miss rows."""
        rows = _bucket_rows(bs, key)
        vals = []
        for g in group_by:
            ents = _entries(bs, g)
            if sum(int(s.get("n_rows", 0)) for s in ents) != rows:
                return None
            seen = set()
            for s in ents:
                if s.get("znull") != 0 or "zmin" not in s:
                    return None
                if schema[g] == "double" and s.get("znan") != 0:
                    return None
                if s["zmin"] != s["zmax"]:
                    return None
                seen.add(s["zmin"])
            if len(seen) != 1:
                return None
            if schema[g] == "string":
                # bounds are width-truncated: a truncated bound is a
                # PREFIX, not the value — only values shorter than the
                # cap are exact
                from ..zonemap import STR_BOUND_WIDTH

                v = next(iter(seen))
                if len(v) >= STR_BOUND_WIDTH:
                    return None
            vals.append(_stats_value_to_py(next(iter(seen)), schema[g]))
        return tuple(vals)

    def _bucket_partials(bs: list[dict], rows: int) -> list | None:
        """Stats-proven partial per inner agg, or None -> decode."""
        out = []
        for fn, col in inner:
            if fn == "count" and col == "*":
                out.append(rows)
                continue
            ents = _entries(bs, col)
            typ = schema[col]
            if fn == "count":
                if sum(int(s.get("n_rows", 0)) for s in ents) != rows or \
                        any(s.get("znull") is None for s in ents):
                    return None
                out.append(sum(int(s["n_rows"]) - int(s["znull"])
                               for s in ents))
                continue
            if fn == "sum":
                if not ents or not all(
                    "zsum" in s or s.get("znull") == s.get("n_rows")
                    for s in ents
                ):
                    return None
                vals = [int(s["zsum"]) for s in ents if "zsum" in s]
                out.append(sum(vals) if vals else None)
                continue
            # min / max
            if typ == "string" or typ not in _EXACT_BOUND_TYPES:
                return None  # truncated / unsupported bounds: decode
            best = None
            for s in ents:
                if s.get("znull") == s.get("n_rows"):
                    continue
                if "zmin" not in s:
                    return None
                if typ == "double" and (s.get("znan") is None
                                        or s["znan"] != 0):
                    return None  # NaN-greatest needs the decode path
                v = s["zmin"] if fn == "min" else s["zmax"]
                best = v if best is None else _combine_extreme(fn, best, v)
            out.append(None if best is None
                       else _stats_value_to_py(best, typ))
        return out

    stats_rows: list[tuple] = []
    decode_buckets: list[int] = []
    for b in surviving:
        bs = blocks.get(str(b), [])
        if not bs:
            continue  # committed-empty bucket: no rows, no groups
        if norm and not _bucket_contained(bs, key, norm, schema):
            decode_buckets.append(b)
            continue
        g = _single_group(bs)
        if g is None:
            decode_buckets.append(b)
            continue
        rows = _bucket_rows(bs, key)
        if rows == 0:
            continue
        partials = _bucket_partials(bs, rows)
        if partials is None:
            decode_buckets.append(b)
            continue
        stats_rows.append(g + tuple(partials))

    def _pname(fn: str, col: str) -> str:
        return "p_count_star" if col == "*" else f"p_{fn}_{col}"

    pnames = [_pname(fn, col) for fn, col in inner]
    fields = [f"`{g}` {manifest.SPARK_DDL_TYPES[schema[g]]}"
              for g in group_by]
    for (fn, col), pn in zip(inner, pnames):
        t = ("bigint" if fn == "count"
             else "bigint" if fn == "sum" and schema[col] == "int64"
             else "double" if fn == "sum"
             else manifest.SPARK_DDL_TYPES[schema[col]])
        fields.append(f"`{pn}` {t}")
    parts = spark.createDataFrame(stats_rows, ", ".join(fields))

    if decode_buckets:
        need = sorted(set(group_by)
                      | {c for _f, c in inner if c != "*"}
                      | {c for c, _o, _b, _v in norm}) or [key]
        df = _decoded(spark, out_dir, m, need, filters, norm,
                      sorted(decode_buckets), schema, driver=False)
        exprs = []
        for (fn, col), pn in zip(inner, pnames):
            if fn == "count" and col == "*":
                exprs.append(F.count(F.lit(1)).alias(pn))
            else:
                exprs.append(getattr(F, fn)(F.col(col)).alias(pn))
        decoded = df.groupBy(*group_by).agg(*exprs)
        parts = parts.unionByName(decoded)

    merged = parts.groupBy(*group_by).agg(*[
        (F.sum(pn) if fn in ("count", "sum")
         else getattr(F, fn)(pn)).alias(pn)
        for (fn, _c), pn in zip(inner, pnames)
    ])
    # project the requested aggs (avg derived from its partials)
    out_cols = [F.col(g) for g in group_by]
    for fn, col in aggs:
        name = "count_star" if col == "*" else f"{fn}_{col}"
        if fn == "avg":
            s, c = F.col(_pname("sum", col)), F.col(_pname("count", col))
            out_cols.append(
                F.when(c > 0, s / c).otherwise(F.lit(None)).alias(name))
        elif fn == "count":
            out_cols.append(
                F.coalesce(F.col(_pname(fn, col)), F.lit(0)).alias(name))
        else:
            out_cols.append(F.col(_pname(fn, col)).alias(name))
    return merged.select(*out_cols)


def agg_table_df(spark: SparkSession, out_dir: str,
                 aggs: list[tuple[str, str]],
                 filters: list[tuple] | None = None,
                 version: int | None = None) -> DataFrame:
    """One-row DataFrame wrapper over agg_table (column per agg, named
    fn_col / count_star) — the queries()/oracle surface."""
    m = manifest.load(out_dir, version=version)
    if m is None:
        raise FileNotFoundError(f"no manifest in {out_dir}")
    schema = manifest.ordered_schema(m)
    res = agg_table(spark, out_dir, aggs, filters=filters, version=version)
    fields = []
    for fn, col in aggs:
        name = "count_star" if col == "*" else f"{fn}_{col}"
        if fn in ("count", "count_distinct", "approx_count_distinct"):
            t = "bigint"
        elif fn == "avg":
            t = "double"
        elif fn == "sum":
            t = "bigint" if schema[col] == "int64" else "double"
        else:  # canonical map: keeps float_array etc. in sync
            t = manifest.SPARK_DDL_TYPES[schema[col]]
        fields.append(f"`{name}` {t}")
    return spark.createDataFrame(
        [tuple(res["count_star" if c == "*" else f"{f}_{c}"]
               for f, c in aggs)],
        ", ".join(fields),
    )
