"""Skew-aware salted bucketing for the encode job.

Blocks are grouped by *host* (url prefix) so values inside a block are
similar — that's what makes dict/FSST pay off — but Zipf-skewed hosts
(FIXTURES.md §1: Zipf a=1.3) would make single-host blocks arbitrarily
large. Hot hosts therefore get split across `n_salts` sub-buckets via a
second hash of the full url: bucket = xxhash64(host, salt) % B.

The salt is derived from the row itself (url), so assignment is
deterministic and recorded in the manifest — decode doesn't need it
(blocks are self-describing) but resume does (identical re-assignment).

AQE's skew handling only covers joins, not applyInArrow groups — hence
explicit salting here (SURVEY.md §4).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd  # module-level: pandas_udf type-hint resolution
from pyspark.sql import DataFrame, functions as F

HOST_PATTERN = r"^[a-z]+://([^/]+)"
_HOST_RE = re.compile(HOST_PATTERN)


BUCKET_SCHEME = "host_or_key"          # written into new manifests
LEGACY_SCHEME = "host_only"            # pre-scheme snapshots
RANGE_SCHEME = "range"                 # cluster_by= snapshots
ZORDER_SCHEME = "zorder"               # cluster_by=[a, b] snapshots:
#   rows quantized per column into equal-frequency cells, cell indexes
#   bit-interleaved into a z-value, buckets cut at equal-frequency
#   z-boundaries — each bucket is a compact z-range, so per-block zone
#   bounds become tight on EVERY cluster column at once and range scans
#   prune on either dimension (the Databricks/Iceberg Z-ORDER layout)
EXTERNAL_SCHEME = "external"           # caller-bucketed (DataSource sinks):
#   the writer never verified which rule produced the bucket column, so
#   point lookups must not re-derive a bucket from any hash — they fall
#   back to every committed bucket and let the recorded per-bucket key
#   ranges do the pruning

# driver-side sample size for range boundaries; the collect is bounded
# at this many scalars regardless of table size (TakeOrdered, not a
# full sort)
RANGE_SAMPLE_N = 100_000
# string boundaries are truncated to this many chars before they land
# in the manifest (bucketing only needs a CONSISTENT comparison value,
# not the exact one — the same truncated list is used by the encode
# expression and every driver-side mirror)
RANGE_STR_BOUND = 64


def block_sort_by(scheme: str | None, cluster_by, key: str) -> list[str] | None:
    """Row order inside a block, the one rule encode and every rewrite
    apply (None: by key). Range-clustered stores sort by (cluster_col,
    key): a range scan's surviving buckets then hold the matching rows
    contiguously, so segmented codecs skip the non-matching segments.
    Zorder stores sort lexicographically by (a, b, key): not a true
    z-sort, but a bucket spans few cells per dimension, so runs stay
    contiguous enough to skip on either leading column."""
    if scheme == RANGE_SCHEME and cluster_by and cluster_by != key:
        return [cluster_by, key]
    if scheme == ZORDER_SCHEME and cluster_by:
        return [c for c in cluster_by if c != key] + [key]
    return None


def key_places(m: dict) -> bool:
    """Does the key alone place a row of the snapshot `m`, in exactly
    one bucket? The hash schemes, and range bucketing on the key
    itself; under every other scheme a row's bucket follows other
    columns (or no recorded rule at all)."""
    scheme = m.get("bucket_scheme", LEGACY_SCHEME)
    return scheme in (BUCKET_SCHEME, LEGACY_SCHEME) or (
        scheme == RANGE_SCHEME and m.get("cluster_by") == m["key"])


def with_host(df: DataFrame, url_col: str = "url",
              scheme: str = BUCKET_SCHEME) -> DataFrame:
    """Grouping host for bucketing: the url's host when the key is
    url-shaped, else the key value itself (cast to string). Without the
    fallback a non-url key column (event_id, doc_id) extracts host ""
    for EVERY row and the whole table degenerates into one bucket —
    zero encode parallelism at any scale.

    The scheme is part of the snapshot FORMAT: the manifest records it
    at table creation and every later operation (resume, lookups) must
    hash the way the committed blocks were hashed — re-assigning rows
    of a half-encoded legacy snapshot would duplicate already-committed
    buckets, and probing with the wrong scheme silently misses keys."""
    key = F.col(url_col).cast("string")
    host = F.regexp_extract(key, HOST_PATTERN, 1)
    if scheme == LEGACY_SCHEME:
        return df.withColumn("_host", host)
    return df.withColumn("_host", F.when(host != F.lit(""), host).otherwise(key))


def detect_hot_keys(df: DataFrame, num_buckets: int, url_col: str = "url",
                    sample_fraction: float | None = None) -> dict[str, int]:
    """hosts whose row count would overflow one bucket -> n_salts to split into.

    One aggregation over (a sample of) the input. Only hosts that exceed
    the per-bucket target reach the driver — at most `num_buckets` of them
    can exist (each holds > total/num_buckets rows), so the collected dict
    is bounded regardless of host cardinality (Common Crawl has ~10^8
    distinct hosts; collecting all their counts would OOM the driver).
    """
    d = with_host(df, url_col)
    if sample_fraction and sample_fraction < 1.0:
        d = d.sample(fraction=sample_fraction, seed=42)
    counts = d.groupBy("_host").count()
    total_row = counts.select(F.sum("count").alias("t")).collect()[0]
    total = int(total_row["t"] or 0)
    if total == 0:
        return {}
    target = max(total / num_buckets, 1.0)
    # executor-side filter: n_salts > 1  <=>  count >= target. Hot hosts
    # are few by definition; everything else never leaves the executors.
    rows = counts.filter(F.col("count") >= F.lit(target)).collect()
    return {r["_host"]: int(r["count"] // target) + 1 for r in rows}


def with_bucket(df: DataFrame, num_buckets: int, hot_keys: dict[str, int],
                url_col: str = "url", scheme: str = BUCKET_SCHEME) -> DataFrame:
    """Add a `bucket` column: hash(host, salt) % B with per-hot-host salts.

    hot_keys is a small dict -> broadcast join (no shuffle of the big side
    beyond the groupBy that follows anyway).
    """
    d = with_host(df, url_col, scheme)
    if hot_keys:
        spark = df.sparkSession
        hot_df = spark.createDataFrame(
            [(k, v) for k, v in hot_keys.items()], "_host string, _n_salts int"
        )
        d = d.join(F.broadcast(hot_df), "_host", "left")
        salt = F.when(
            F.col("_n_salts").isNotNull(),
            F.pmod(F.xxhash64(F.col(url_col)), F.col("_n_salts")),
        ).otherwise(F.lit(0))
    else:
        salt = F.lit(0)
    d = d.withColumn(
        "bucket",
        F.pmod(F.xxhash64(F.col("_host"), salt.cast("long")), F.lit(num_buckets)).cast("int"),
    )
    return d.drop("_host", "_n_salts") if hot_keys else d.drop("_host")


def range_boundaries(df: DataFrame, col: str, typ: str, num_buckets: int,
                     sample_n: int = RANGE_SAMPLE_N, seed: int = 42) -> list:
    """num_buckets-1 equal-frequency cut points for `col`, in BOUND space
    (epoch-us ints for timestamps, floats, ints, truncated strings —
    the JSON-safe space zonemap stores bounds in, so the manifest can
    carry them).

    Numeric and timestamp columns use approxQuantile (Greenwald-Khanna
    sketch: one pass, executor-side merge, only the sketch reaches the
    driver — constant driver cost at any table size). Timestamps ride
    as unix_micros (sessions are pinned UTC engine-wide, so the
    epoch-us <-> wall-clock mapping matches _bound_lit's
    reconstruction); int64 boundaries tolerate the double round-trip —
    cut PLACEMENT only needs consistency, not exactness. Strings fall
    back to a bounded rand-ranked TakeOrdered sample (driver merges up
    to partitions x sample_n rows — sample_n is capped low for this
    path).

    Equal-frequency cuts ARE the skew control for this scheme: a value
    holding p% of rows occupies ~p% of buckets' worth of boundary
    slots, so no per-host salting is needed. Heavy hitters beyond one
    bucket's width still collapse into one bucket (ties can't be split
    by a range rule); that residual skew is bounded by the hitter's own
    frequency and is the documented cost of clustering (a hash scheme
    scatters the scan instead).
    """
    from .. import zonemap

    if typ not in zonemap.PRUNABLE:
        raise ValueError(
            f"cluster_by column {col!r} has type {typ!r}; range bucketing "
            f"needs an orderable type {zonemap.PRUNABLE}"
        )
    if num_buckets < 2:
        return []
    probs = [i / num_buckets for i in range(1, num_buckets)]
    if typ in ("int64", "timestamp", "timestamp_ntz", "double"):
        v = F.col(col)
        if typ.startswith("timestamp"):
            v = F.unix_micros(v.cast("timestamp"))
        q = (
            df.select(v.cast("double").alias("_v"))
            # NaN is excluded like NULL: it buckets to 0 by rule and
            # must never become a boundary (it has no order)
            .where(F.col("_v").isNotNull() & ~F.isnan(F.col("_v")))
            # error floor: the GK sketch grows ~1/err, and boundary
            # PLACEMENT tolerates imprecision (cuts just need to be
            # consistent) — 1e-4 keeps a 10^5-boundary request tractable
            .stat.approxQuantile("_v", probs,
                                 max(1.0 / (4 * num_buckets), 1e-4))
        )
        if not q:
            return []
        out = [float(x) if typ == "double" else int(x) for x in q]
        return sorted(out)
    # driver-merge budget: at least 16 sampled rows per requested
    # bucket (so cuts don't collapse into duplicates at high B), never
    # more than the caller's sample_n. The old hard 10k floor silently
    # ignored sample_n and degenerated string layouts at B ~ 10^4.
    n_take = min(sample_n, max(10_000, 16 * num_buckets))
    sample = (
        df.select(F.col(col).alias("_v"))
        .where(F.col(col).isNotNull())
        .withColumn("_r", F.rand(seed))
        .orderBy("_r")
        .limit(n_take)
        .select("_v")
        .collect()
    )
    vals = sorted(r["_v"][:RANGE_STR_BOUND] for r in sample)
    if not vals:
        return []
    if len(vals) < 4 * num_buckets:
        import warnings

        warnings.warn(
            f"range_boundaries: string sample for {col!r} has {len(vals)} "
            f"rows for {num_buckets} buckets (<4x) — boundaries will "
            "contain duplicates and some buckets will be empty; lower "
            "num_buckets or raise sample_n",
            stacklevel=2,
        )
    # quantile cut points; duplicates collapse (ties make empty buckets,
    # which commit fine), boundaries stay sorted by construction
    n = len(vals)
    return [vals[min(n - 1, (i * n) // num_buckets)] for i in range(1, num_buckets)]


def _bound_lit(value, typ: str):
    """Bound-space value -> Spark literal in the column's native type
    (same construction as decode._filters_expr: epoch-us ints become
    timestamp_micros, which is exact for both ts and ntz under the
    UTC-pinned session every encode job runs in)."""
    ddl = {"timestamp": "timestamp", "timestamp_ntz": "timestamp_ntz"}.get(typ)
    if ddl is not None:
        return F.timestamp_micros(F.lit(int(value))).cast(ddl)
    return F.lit(value)


# boundary count above which the JVM array-filter assignment (O(B) per
# row, interpreted higher-order function) loses to an Arrow-batched
# numpy searchsorted (O(log B) per row): the expression path keeps
# small layouts UDF-free, the UDF path keeps 10^5-bucket layouts linear
RANGE_EXPR_MAX = 512


def heavy_boundary_values(boundaries: list) -> dict:
    """{heavy value: (first overflow bucket, n overflow buckets)} for
    boundary values appearing >= 2 times. Equal-frequency cuts repeat a
    value exactly when it holds more than one bucket's width of rows; a
    value at slots [i, i+m) makes bucket ids i+1 .. i+m-1 UNREACHABLE
    (no other value maps there) and piles all its rows onto i+m — so
    those m ids (i+1 .. i+m) become the value's salted overflow span,
    mirroring detect_hot_keys for the hash scheme. Range semantics are
    untouched: every overflow bucket's recorded zone bounds are [v, v]
    (or [v, next) for the last), so pruning keeps working off the
    manifest bounds."""
    import bisect as _bisect

    out = {}
    i = 0
    while i < len(boundaries):
        j = _bisect.bisect_right(boundaries, boundaries[i], lo=i)
        if j - i >= 2:
            out[boundaries[i]] = (i + 1, j - i)
        i = j
    return out


def _np_values_valid(s: pd.Series, typ: str):
    """(numpy values in bound space, non-null mask) for one pandas
    Series — THE per-type soundness rules every searchsorted
    assignment UDF shares (with_bucket_range and zorder_value_udf),
    kept in one place so they can never diverge from each other or
    the driver mirrors:

      * timestamps compare as epoch-us int64 (bound space),
      * strings null-fill then truncate to RANGE_STR_BOUND (matching
        the expression path's substring and the recorded boundaries),
      * doubles conflate NULL and NaN (both invalid -> cell/bucket 0,
        the documented rule),
      * int64 must arrive as an exact-int batch (callers coalesce
        nulls away; a float batch would round values > 2^53 — raise).
    """
    if typ.startswith("timestamp"):
        return (s.to_numpy(dtype="datetime64[us]").astype("int64"),
                s.notna().to_numpy(dtype=bool))
    if typ == "string":
        return (s.fillna("").str.slice(0, RANGE_STR_BOUND)
                .to_numpy(dtype=object),
                s.notna().to_numpy(dtype=bool))
    if typ == "double":
        return (s.to_numpy(dtype="float64"),
                s.notna().to_numpy(dtype=bool))
    if s.dtype.kind == "f":  # defensive: precision-lossy path
        raise ValueError(
            "int64 range assignment received a float batch "
            "(nulls uncoalesced?); values over 2^53 would round")
    return s.to_numpy(dtype="int64"), np.ones(len(s), dtype=bool)


def with_bucket_range(df: DataFrame, col: str, typ: str,
                      boundaries: list, key: str | None = None) -> DataFrame:
    """Add a `bucket` column: count of boundaries <= value. NULL cluster
    values land in bucket 0, and so does a NaN double — NaN has no
    order, and the three implementations of this rule (JVM expression,
    searchsorted UDF, driver bisect) would otherwise disagree on it
    (Spark orders NaN above everything, pandas reads it as missing).

    Up to RANGE_EXPR_MAX boundaries this is a pure JVM expression
    (filter-count over an array literal — no UDF, no shuffle); beyond
    that the O(B)-per-row scan would dominate, so assignment switches
    to a vectorized pandas_udf doing np.searchsorted (O(log B) per row,
    Arrow-batched) — which is what makes a 10^5-bucket range layout
    practical. Both paths implement the identical rule as
    range_bucket_for_value's bisect (golden cross-check in tests).

    With `key`, HEAVY cluster values (duplicate boundary slots — a
    value wider than one bucket) are salted by xxhash64(key) across
    their otherwise-unreachable overflow bucket ids
    (heavy_boundary_values), so a 50%-one-value column stops producing
    one giant block. Deterministic per key: resume re-routes rows
    identically, and the lookup mirror (range_bucket_for_key) computes
    the same bucket driver-side."""
    if not boundaries:
        return df.withColumn("bucket", F.lit(0).cast("int"))
    heavy = heavy_boundary_values(boundaries) if key is not None else {}

    def _salted(base_expr):
        expr = base_expr
        for v, (first, n) in heavy.items():
            vv = F.col(col) if typ != "string" else \
                F.substring(F.col(col), 1, RANGE_STR_BOUND)
            expr = F.when(
                vv == _bound_lit(v, typ),
                (F.lit(first) + F.pmod(F.xxhash64(F.col(key)), F.lit(n)))
                .cast("int"),
            ).otherwise(expr)
        return expr
    if len(boundaries) <= RANGE_EXPR_MAX:
        v = F.col(col) if typ != "string" else F.substring(F.col(col), 1, RANGE_STR_BOUND)
        arr = F.array(*[_bound_lit(b, typ) for b in boundaries])
        expr = F.size(F.filter(arr, lambda b: b <= v)).cast("int")
        if typ == "double":
            # Spark orders NaN above every value (all boundaries <=
            # NaN) — pin it to bucket 0, matching NULL and the mirrors
            expr = F.when(F.isnan(F.col(col)), F.lit(0)).otherwise(expr)
        return df.withColumn("bucket", _salted(expr))

    from pyspark.sql.functions import pandas_udf

    # prebuilt ONCE per executor deserialization — np.asarray of a 10^5
    # element list per Arrow batch would dominate the UDF
    arr_np = np.asarray(
        list(boundaries), dtype=object if typ == "string" else None
    )

    @pandas_udf("int")
    def _searchsorted(s: pd.Series) -> pd.Series:
        vals, valid = _np_values_valid(s, typ)
        out = np.searchsorted(arr_np, vals, side="right").astype("int32")
        out[~valid] = 0
        return pd.Series(out)

    if typ == "int64":
        # coalesce keeps every Arrow batch null-free (exact int64 in
        # pandas); the outer when() restores NULL -> bucket 0
        return df.withColumn(
            "bucket",
            _salted(
                F.when(F.col(col).isNull(), F.lit(0)).otherwise(
                    _searchsorted(F.coalesce(F.col(col), F.lit(0)))
                ).cast("int")
            ),
        )
    return df.withColumn("bucket", _salted(_searchsorted(F.col(col))))


# ---------------------------------------------------------------- zorder

# cells per cluster column: 8 bits each keeps the interleaved z-value a
# small exact int (2 cols -> 16-bit z) with one O(log 256) searchsorted
# per column per row. 256 equal-frequency cells per dimension is plenty of
# resolution for any practical bucket count: buckets are cut from the
# z-distribution, and each holds a compact z-range spanning ~
# (65536 / num_buckets) cells.
ZORDER_BITS = 8
ZORDER_CELLS = 1 << ZORDER_BITS
# working column for the computed z-value during assignment/sampling
ZORDER_TMP_COL = "__kmers_zvalue__"


def _spread_table(k: int) -> list[int]:
    """spread[x] = the 8-bit value x with its bits re-spaced k apart
    (bit i -> bit i*k) — interleaving k columns is then
    sum(spread[cell_j] << j). Pure int table; zorder_value_udf ships it
    as a numpy closure and the driver mirror indexes it directly."""
    out = []
    for x in range(ZORDER_CELLS):
        v = 0
        for i in range(ZORDER_BITS):
            if (x >> i) & 1:
                v |= 1 << (i * k)
        out.append(v)
    return out


# interleaving k 8-bit cells uses bits up to (ZORDER_BITS-1)*k + (k-1);
# k=7 tops out at bit 54 (safe in a signed int64 everywhere: the JVM
# long, the driver mirror, numpy). k=8 reaches bit 63 (sign) and the
# expression/mirror would diverge — encode_table validates the cap.
ZORDER_MAX_COLS = 7


def zorder_value_udf(cols: list[str], typs: list[str],
                     cells: dict[str, list]):
    """int64 z-value of a row: per-column equal-frequency cell index
    (np.searchsorted over the recorded cell boundaries — same rule as
    the driver mirror zorder_bucket_for_row, NULL/NaN pinned to cell
    0), bits
    interleaved via the spread table. ONE Arrow-batched pandas_udf over
    all cluster columns.

    This replaced a pure-expression implementation (array-filter count
    + element_at spread lookup per column): Spark's higher-order
    functions are CodegenFallback — interpreted, per-row, per-element —
    and the zorder encode evaluates the z-value over the whole table
    TWICE (GK boundary sketch + assignment), which measured 789 s for a
    4M-row 2-column (timestamp, string) layout at sf0.1 vs ~30 s for
    the whole rest of the encode. The vectorized form is O(log 256)
    per row per column in numpy with no interpreter in the loop.

    int64 columns ship as (coalesced value, is-null flag) pairs so the
    Arrow batch stays exact int64 (a null would arrive as float64 and
    round values > 2^53 — with_bucket_range's documented rule)."""
    k = len(cols)
    if k > ZORDER_MAX_COLS:
        raise ValueError(
            f"zorder supports at most {ZORDER_MAX_COLS} cluster columns "
            f"(got {k}): bit {8 * k - 1} would overflow the signed int64 "
            "z-value")
    from pyspark.sql.functions import pandas_udf

    tab = np.asarray(_spread_table(k), dtype="int64")
    bounds = [
        np.asarray(list(cells[c]), dtype=object if t == "string" else None)
        for c, t in zip(cols, typs)
    ]
    args = []
    spec = []  # (typ, bounds index, consumes null-flag arg)
    for i, (c, t) in enumerate(zip(cols, typs)):
        if t == "int64":
            args.append(F.coalesce(F.col(c), F.lit(0)))
            args.append(F.col(c).isNull())
            spec.append((t, i, True))
        else:
            args.append(F.col(c))
            spec.append((t, i, False))

    @pandas_udf("long")
    def _z(*series: pd.Series) -> pd.Series:
        z = np.zeros(len(series[0]), dtype="int64")
        si = 0
        for j, (t, bi, has_flag) in enumerate(spec):
            vals, valid = _np_values_valid(series[si], t)
            si += 1
            if has_flag:  # int64: the shipped null flag is the truth
                valid = ~series[si].to_numpy(dtype=bool)
                si += 1
            codes = np.searchsorted(
                bounds[bi], vals, side="right").astype("int64")
            codes[~valid] = 0
            z = z + (tab[codes] << j)
        return pd.Series(z)

    return _z(*args)


def zorder_boundaries(df: DataFrame, cols: list[str], typs: list[str],
                      num_buckets: int) -> tuple[dict[str, list], list]:
    """(per-column cell boundaries, z-value bucket boundaries) for a
    zorder layout — sampled once at table creation, recorded in the
    manifest, reused exactly by every resume/mutation (same
    determinism contract as the range scheme's boundaries). Cost: one
    GK-sketch pass per column for the cells plus one for the z cuts —
    constant driver cost at any table size."""
    if ZORDER_TMP_COL in df.columns:
        raise ValueError(
            f"input column {ZORDER_TMP_COL!r} collides with the zorder "
            "assignment's working column; rename it")
    cells = {
        c: range_boundaries(df, c, t, ZORDER_CELLS)
        for c, t in zip(cols, typs)
    }
    zdf = df.withColumn(ZORDER_TMP_COL,
                        zorder_value_udf(cols, typs, cells)) \
        .select(ZORDER_TMP_COL)
    zb = range_boundaries(zdf, ZORDER_TMP_COL, "int64", num_buckets)
    return cells, zb


def with_bucket_zorder(df: DataFrame, cols: list[str], typs: list[str],
                       cells: dict[str, list], z_bounds: list,
                       key: str | None = None) -> DataFrame:
    """Add a `bucket` column by z-value range assignment. Reuses the
    range scheme's assignment kernel on the computed z column —
    including its heavy-z-value overflow salting by xxhash64(key), so a
    cell combination wider than one bucket still splits."""
    if ZORDER_TMP_COL in df.columns:
        raise ValueError(
            f"input column {ZORDER_TMP_COL!r} collides with the zorder "
            "assignment's working column; rename it")
    zdf = df.withColumn(ZORDER_TMP_COL,
                        zorder_value_udf(cols, typs, cells))
    return with_bucket_range(zdf, ZORDER_TMP_COL, "int64", z_bounds,
                             key=key).drop(ZORDER_TMP_COL)


def zorder_bucket_for_row(values: list, typs: list[str],
                          cells: dict[str, list], cols: list[str],
                          z_bounds: list) -> int:
    """Driver-side mirror of with_bucket_zorder for ONE row (golden
    cross-check for the expression; heavy-value salt excluded — pass
    rows off heavy z boundaries when asserting equality)."""
    import bisect
    import math

    from .. import zonemap

    k = len(cols)
    tab = _spread_table(k)
    z = 0
    for j, (v, c, t) in enumerate(zip(values, cols, typs)):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            cell = 0
        else:
            bv = zonemap.to_bound_space(v, t)
            if t == "string":
                bv = bv[:RANGE_STR_BOUND]
            cell = bisect.bisect_right(cells[c], bv)
        z += tab[cell] << j
    return bisect.bisect_right(z_bounds, z)


def range_bucket_for_value(value, boundaries: list, typ: str) -> int:
    """Driver-side mirror of with_bucket_range for ONE value: same
    count-of-boundaries<=v rule via bisect on the sorted boundary list
    (boundaries are in bound space; the value is mapped through the
    same zonemap.to_bound_space)."""
    import bisect
    import math

    from .. import zonemap

    if value is None:
        return 0
    bv = zonemap.to_bound_space(value, typ)
    if typ == "string":
        bv = bv[:RANGE_STR_BOUND]
    if isinstance(bv, float) and math.isnan(bv):
        return 0  # NULL-and-NaN -> bucket 0 (with_bucket_range's rule)
    return bisect.bisect_right(boundaries, bv)


def range_bucket_for_key(key_value, boundaries: list, typ: str) -> int:
    """Driver-side mirror of with_bucket_range(..., key=cluster) for a
    cluster==key snapshot: the base bisect rule PLUS the heavy-value
    overflow salt — with cluster == key the salt input IS the probe
    value, so the salted bucket is exactly computable (one bucket per
    probe, no fan-out). `key_value` is typed like the key column (a
    str, or an int for an int64 key), as the salt hashes it."""
    from .. import sparkhash

    heavy = heavy_boundary_values(boundaries)
    if heavy:
        from .. import zonemap

        bv = zonemap.to_bound_space(key_value, typ)
        if typ == "string":
            bv = bv[:RANGE_STR_BOUND]
        if bv in heavy:
            first, n = heavy[bv]
            return first + sparkhash.pmod(sparkhash.xxhash64(key_value), n)
    return range_bucket_for_value(key_value, boundaries, typ)


def bucket_for_key(key, num_buckets: int, hot_keys: dict[str, int],
                   scheme: str = BUCKET_SCHEME) -> int:
    """Driver-side mirror of with_bucket for ONE key: same regex host
    extraction, same salt rule, same xxhash64 chaining — golden-tested
    against the Spark expression (test_encode_e2e). Lets point lookups
    map probe keys to buckets without running a Spark job. `scheme`
    must be the snapshot's recorded bucket_scheme — probing with the
    wrong one silently misses keys in pre-scheme snapshots.

    `key` is typed like the key column (a str, or an int for an int64
    key): the host comes from its string form, as with_host casts, but
    a hot key's salt hashes the typed value, as with_bucket does."""
    from .. import sparkhash

    text = key if isinstance(key, str) else str(key)
    m = _HOST_RE.match(text)
    if scheme == LEGACY_SCHEME:
        host = m.group(1) if m else ""  # regexp_extract "" on no match
    else:
        host = m.group(1) if m else text  # non-url key: the key itself
    n_salts = hot_keys.get(host)
    salt = sparkhash.pmod(sparkhash.xxhash64(key), n_salts) if n_salts else 0
    return sparkhash.pmod(sparkhash.xxhash64(host, salt), num_buckets)
