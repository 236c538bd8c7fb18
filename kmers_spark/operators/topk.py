"""ORDER BY ... LIMIT k pushdown over the compressed store.

`topk_table(order_by=["warc_ts", "url"], k=1000, descending=True)`
answers "the latest k rows" by decoding only the buckets that can
possibly hold them, decided driver-side from manifest block stats with
ZERO Spark jobs:

  * buckets are ranked by their recorded bound on the FIRST order
    column (zmax for descending, zmin for ascending — generation-
    widened, exactly the zone maps scans prune with);
  * the prefix grows until the selected buckets provably contain >= k
    qualifying rows STRICTLY beyond every excluded bucket's reach
    (strict, because a tie on the first column is broken by later
    columns an excluded bucket might win);
  * "provably" counts a bucket's rows only when its stats allow it —
    bounds + znull present (+ znan == 0 for doubles: NaN orders as the
    greatest double and zone bounds are NaN-blind, so a maybe-NaN
    bucket ranks as unbounded and guarantees nothing), and, under
    `filters`, only buckets whose stats prove EVERY row matches
    (agg._bucket_contained) — a partially-matching bucket still
    decodes, it just can't vouch for the early stop.

On a range-clustered store (encode cluster_by= on the order column)
the selected set is the minimal boundary suffix — "latest 1000 of a
100 TB crawl" reads ~1 bucket. On a hash-bucketed store bounds
overlap, the guarantee never fires early, and the operator degrades
to a full (still pruned-by-filters) scan — correct, never fast-wrong.

The decoded survivors finish with Spark's own ORDER BY ... LIMIT k,
which plans TakeOrderedAndProject (per-partition heap + driver merge
of k rows, no global sort shuffle). NULLS sort LAST in both
directions (SQL: NULLS LAST) — express the same in oracle SQL.
"""

from __future__ import annotations

import heapq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import manifest, zonemap
from .agg import _bucket_contained, _entries
from .decode import _filters_expr, decode_colocated, empty_result

_UNBOUNDED = object()  # "no recorded bound": ranks before every real value


def _order_stats(stats: list[dict], col: str, typ: str,
                 null_free: bool = False):
    """(lo, hi, guaranteed_rows) of a bucket's order column, merged
    across generations. lo/hi are _UNBOUNDED when any generation lacks
    bounds (the bucket then always ranks first and guarantees 0);
    guaranteed_rows is the count of rows provably participating in the
    ordering (non-null; non-NaN for doubles), or 0 when stats can't
    prove it. String bounds are truncated but over-cover (recorded
    lo <= true min, hi >= true max), which only weakens guarantees —
    never unsound.

    `null_free=True` asserts the bucket provably holds no NULL (or
    NaN) in this column — true for every bucket > 0 of a range store
    clustered on it, since assignment pins NULL/NaN to bucket 0
    (partitioning.with_bucket_range) and every writer (encode resume,
    delete, upsert) places rows by the same recorded rule. That lets
    pre-znull snapshots (and the znan-blind double path) guarantee
    from n_rows alone."""
    ents = _entries(stats, col)
    if not ents:
        return _UNBOUNDED, _UNBOUNDED, 0
    lo, hi = None, None
    guaranteed = 0
    exact = True
    for s in ents:
        if "zmin" not in s or "zmax" not in s:
            return _UNBOUNDED, _UNBOUNDED, 0
        lo = s["zmin"] if lo is None else min(lo, s["zmin"])
        hi = s["zmax"] if hi is None else max(hi, s["zmax"])
        if typ == "double" and not null_free and s.get("znan") != 0:
            # maybe-NaN: NaN is the greatest double but invisible to
            # Arrow min_max bounds — the bucket may hold top values
            # beyond hi, and its row count can't be trusted either
            return lo, _UNBOUNDED, 0
        znull = s.get("znull")
        if znull is None:
            if null_free:
                guaranteed += int(s.get("n_rows", 0))
            else:
                exact = False
        else:
            guaranteed += int(s.get("n_rows", 0)) - int(znull)
    return lo, hi, guaranteed if exact else 0


def topk_table(spark: SparkSession, out_dir: str, order_by, k: int, *,
               descending: bool = True,
               columns: list[str] | None = None,
               filters: list[tuple] | None = None,
               version: int | None = None) -> DataFrame:
    """Top-k rows of the store by `order_by` (a column or list of
    columns, all ordered in the same direction, NULLS LAST), optionally
    under `filters` (scan_table triples, ANDed). Returns a DataFrame of
    at most k rows — equivalent to

        SELECT <columns> FROM store [WHERE ...]
        ORDER BY c1 [DESC] NULLS LAST, c2 [DESC] NULLS LAST, ...
        LIMIT k

    but decoding only the buckets the manifest's zone stats cannot rule
    out of the answer (see module docstring). Ties beyond the listed
    columns are arbitrary, as in SQL — pass a unique tiebreak column
    for deterministic results."""
    if isinstance(order_by, str):
        order_by = [order_by]
    if not order_by:
        raise ValueError("order_by must name at least one column")
    if k < 1:
        raise ValueError("k must be >= 1")
    m = manifest.load(out_dir, version=version)
    if m is None:
        raise FileNotFoundError(f"no manifest in {out_dir}")
    schema = manifest.ordered_schema(m)
    for c in order_by:
        if c not in schema:
            raise KeyError(f"order column {c!r} not in snapshot schema")
        if schema[c] == "float_array":
            raise TypeError(f"cannot order by array column {c!r}")
    norm = zonemap.normalize_filters(filters, schema) if filters else []
    blocks = manifest.block_stats(out_dir, m)
    key = m.get("key")

    if norm:
        candidates = zonemap.prune_buckets(m, norm, blocks=blocks)
        from .decode import bloom_prune_filters

        candidates = bloom_prune_filters(out_dir, m, norm, candidates)
    else:
        candidates = list(m.get("committed_buckets", []))

    c1, typ1 = order_by[0], schema[order_by[0]]
    from . import partitioning

    # range stores clustered on the order column pin NULL/NaN rows to
    # bucket 0: every other bucket is provably null-free in c1
    cluster_pinned = (
        m.get("bucket_scheme") == partitioning.RANGE_SCHEME
        and m.get("cluster_by") == c1
    )
    ranked = []  # (sort rank, bucket, edge_for_guarantee, guaranteed)
    for b in candidates:
        stats = blocks.get(str(b), [])
        lo, hi, guaranteed = _order_stats(
            stats, c1, typ1, null_free=cluster_pinned and int(b) != 0
        )
        if norm and guaranteed and not _bucket_contained(
            stats, key, norm, schema
        ):
            guaranteed = 0  # decodes, but can't vouch for the early stop
        outer = hi if descending else lo        # best value it may hold
        inner = lo if descending else hi        # worst value it holds
        ranked.append((_RankKey(outer, descending), b, inner, guaranteed))
    ranked.sort(key=lambda t: t[0])

    # grow the prefix until >= k rows provably beat every excluded
    # bucket's best (STRICTLY — first-column ties are broken by later
    # columns an excluded bucket might win). Incremental: the cut only
    # weakens as the prefix grows, so each bucket's guarantee activates
    # once (heap on the inner edge).
    selected: list[int] = []
    pending: list[tuple] = []  # (rank of inner edge, guaranteed rows)
    proven = 0
    take = len(ranked)
    for i, (_rk, b, inner, guaranteed) in enumerate(ranked):
        selected.append(b)
        if guaranteed:
            heapq.heappush(pending, (_RankKey(inner, descending), guaranteed))
        if i + 1 < len(ranked):
            cut = ranked[i + 1][0]  # best value any excluded bucket may hold
            while pending and pending[0][0] < cut:  # inner strictly beats it
                proven += heapq.heappop(pending)[1]
            if proven >= k:
                take = i + 1
                break
    selected = selected[:take]

    out_cols = list(schema) if columns is None else [
        c for c in schema if c in set(columns)
    ]
    if columns is not None:
        unknown = [c for c in columns if c not in schema]
        if unknown:
            raise KeyError(f"columns not in snapshot schema: {unknown}")
        if not out_cols:
            raise ValueError("columns projection must not be empty")
    if not selected:
        return empty_result(spark, schema, out_cols)

    fcols = {c for c, _op, _bv, _v in norm}
    decode_cols = [c for c in schema
                   if c in set(out_cols) | fcols | set(order_by)]
    bsel = None if len(selected) == len(m.get("committed_buckets", [])) \
        else selected
    df = decode_colocated(spark, out_dir, columns=decode_cols,
                          filters=filters, buckets=bsel, snapshot=m)
    if norm:
        df = df.filter(_filters_expr(norm, schema))
    order_exprs = [
        F.col(c).desc_nulls_last() if descending else F.col(c).asc_nulls_last()
        for c in order_by
    ]
    df = df.orderBy(*order_exprs).limit(int(k))
    if set(out_cols) != set(decode_cols):
        df = df.select(*out_cols)
    return df


class _RankKey:
    """Total order over bound-space values (ints for int64/timestamp,
    floats, strings — homogeneous per column) plus the _UNBOUNDED
    sentinel, under a direction flip. 'Smaller sorts first' == 'better
    candidate first': for descending that is the LARGER value; the
    sentinel ("could hold anything") always sorts first."""

    __slots__ = ("v", "desc")

    def __init__(self, v, desc: bool):
        self.v = v
        self.desc = desc

    def __lt__(self, other: "_RankKey") -> bool:
        a, b = self.v, other.v
        if a is _UNBOUNDED:
            return b is not _UNBOUNDED
        if b is _UNBOUNDED:
            return False
        if a == b:
            return False
        return (a > b) if self.desc else (a < b)

    def __eq__(self, other) -> bool:
        return self.v is other.v or (
            self.v is not _UNBOUNDED and other.v is not _UNBOUNDED
            and self.v == other.v
        )

    def __repr__(self) -> str:  # debugging aid only
        return f"_RankKey({self.v!r}, desc={self.desc})"
