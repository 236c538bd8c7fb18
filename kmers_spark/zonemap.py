"""Per-block zone maps: column min/max recorded at encode time.

Iceberg records per-data-file lower/upper bounds for every column and
prunes files whose bounds exclude a scan predicate; the reference
engine has no scan layer at all (it encodes single sequences —
SURVEY.md §2), so this is engine-native metadata in the same spirit as
the key ranges `lookup_keys` already uses. Here the "file" is a block
(one bucket × one column), the bounds ride in the block's meta JSON,
and the encode commit aggregates them into the manifest — so a
filtered scan prunes whole buckets (and, through `wave_buckets`,
whole wave directories) DRIVER-SIDE with zero Spark jobs before the
first byte of payload is read.

Zone pruning is value-clustering-dependent: hash bucketing scatters
values, so on a hash-keyed snapshot bounds only prune predicates
outside the global value range. It pays when ingestion is clustered
(time-ordered crawls, per-host shards) or when the filter column
correlates with the bucketing key. Bounds are therefore advisory:
a bucket with no recorded bounds for a column is always kept.

String bounds are truncated (Iceberg truncate(16)-style, 32 here):
the lower bound is a prefix (a prefix sorts <= the full value), the
upper bound is the prefix with its last code point incremented (sorts
>= every value sharing the prefix). Python compares strings by code
point and Spark by UTF-8 bytes — identical orders, since UTF-8
preserves code-point order.
"""

from __future__ import annotations

import math
from typing import Any

# types with a total order we can prune on (binary is excluded: its
# Python/Spark orders agree but the manifest is JSON and base64ing
# bounds isn't worth it for opaque payload columns)
PRUNABLE = ("int64", "timestamp", "timestamp_ntz", "double", "string")

STR_BOUND_WIDTH = 32

_SURROGATE_LO, _SURROGATE_HI = 0xD800, 0xDFFF
_MAX_CP = 0x10FFFF


def truncate_min(s: str, width: int = STR_BOUND_WIDTH) -> str:
    """Lower bound after truncation: a prefix is <= the full string."""
    return s if len(s) <= width else s[:width]


def truncate_max(s: str, width: int = STR_BOUND_WIDTH) -> str | None:
    """Upper bound after truncation: prefix with the last incrementable
    code point bumped (skipping the surrogate gap). None = unbounded
    (every truncated char is already U+10FFFF)."""
    if len(s) <= width:
        return s
    p = s[:width]
    for i in reversed(range(len(p))):
        c = ord(p[i])
        if c < _MAX_CP:
            nc = c + 1
            if _SURROGATE_LO <= nc <= _SURROGATE_HI:
                nc = _SURROGATE_HI + 1
            return p[:i] + chr(nc)
    return None


def _json_safe_pair(lo: Any, hi: Any, typ: str) -> tuple[Any, Any] | None:
    if typ == "double":
        lo, hi = float(lo), float(hi)
        if not (math.isfinite(lo) and math.isfinite(hi)):
            return None  # NaN/inf bounds don't order reliably across JSON
        return lo, hi
    if typ == "string":
        hi2 = truncate_max(hi)
        if hi2 is None:
            return None
        return truncate_min(lo), hi2
    return int(lo), int(hi)  # int64 / timestamps as epoch-us


def bounds_pandas(series, typ: str) -> tuple[Any, Any] | None:
    """(zmin, zmax) over non-null values, JSON-safe, or None.

    Nulls are excluded: comparison predicates are never satisfied by
    NULL, so non-null bounds are sound for pruning them."""
    if typ not in PRUNABLE:
        return None
    s = series.dropna()
    if not len(s):
        return None
    if typ in ("timestamp", "timestamp_ntz"):
        v = s.to_numpy(dtype="datetime64[us]").astype("int64")
        return _json_safe_pair(v.min(), v.max(), "int64")
    if typ == "double":
        v = s.to_numpy(dtype="float64")
        return _json_safe_pair(v.min(), v.max(), typ)
    if typ == "int64":
        v = s.to_numpy(dtype="int64")
        return _json_safe_pair(v.min(), v.max(), typ)
    return _json_safe_pair(min(s), max(s), typ)


def bounds_arrow(arr, typ: str) -> tuple[Any, Any] | None:
    """Arrow-native twin of bounds_pandas (no pandas materialization)."""
    import pyarrow.compute as pc

    if typ not in PRUNABLE:
        return None
    if len(arr) == arr.null_count:
        return None
    mm = pc.min_max(arr)  # skips nulls
    lo, hi = mm["min"], mm["max"]
    if typ in ("timestamp", "timestamp_ntz"):
        return _json_safe_pair(lo.value, hi.value, "int64")  # raw epoch-us
    return _json_safe_pair(lo.as_py(), hi.as_py(), typ)


# ------------------------------------------------------------------ pruning

OPS = ("=", "<", "<=", ">", ">=", "in")


def to_bound_space(value: Any, typ: str) -> Any:
    """Map a filter literal into the space bounds are stored in."""
    if typ in ("timestamp", "timestamp_ntz"):
        import datetime
        import numpy as np

        if isinstance(value, (int,)):
            return value  # already epoch-us
        if isinstance(value, str):
            value = datetime.datetime.fromisoformat(value)
        if isinstance(value, datetime.datetime):
            if value.tzinfo is not None:
                value = value.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            return int(np.datetime64(value, "us").astype("int64"))
        raise TypeError(f"cannot interpret {value!r} as a timestamp bound")
    if typ == "double":
        return float(value)
    if typ == "int64":
        return int(value)
    return value


def may_match(rng: tuple[Any, Any] | list | None, op: str, value: Any) -> bool:
    """Can ANY x in [lo, hi] satisfy `x op value`? Missing range = yes.

    Truncated string bounds need no special handling here: they
    over-cover the true range (lo <= true_min, hi >= true_max), which
    only ever widens the answer — still sound."""
    if rng is None:
        return True
    lo, hi = rng
    if op == "=":
        return lo <= value <= hi
    if op == "in":
        if isinstance(value, tuple) and len(value) > 32:
            # normalize_filters sorts NaN-free in-lists into tuples, so
            # interval overlap is one bisect — O(log K) per bucket keeps
            # a 10^5-key semijoin probe over 10^5 buckets driver-cheap
            import bisect

            i = bisect.bisect_left(value, lo)
            return i < len(value) and value[i] <= hi
        return any(lo <= v <= hi for v in value)
    if op == "<":
        return lo < value
    if op == "<=":
        return lo <= value
    if op == ">":
        return hi > value
    if op == ">=":
        return hi >= value
    raise ValueError(f"unsupported filter op {op!r} (supported: {OPS})")


def must_match(rng: tuple[Any, Any] | list | None, op: str, value: Any,
               typ: str) -> bool:
    """Does EVERY non-null x in [lo, hi] satisfy `x op value`? The
    containment dual of may_match: metadata-only aggregation counts a
    whole block from its stats when this holds for all filters (and the
    filter columns carry no nulls — NULL satisfies no predicate, so the
    caller must check znull separately).

    Sound under truncated string bounds for the inequality ops: lo is a
    lower bound of every value and hi an upper bound, so lo >= v proves
    all values >= v (and dually for hi). Equality needs EXACT bounds —
    for strings that means both bounds shorter than the truncation
    width (a width-length bound may have been cut). Missing range =
    False (can't prove containment)."""
    if rng is None:
        return False
    lo, hi = rng
    if op in ("=", "in"):
        if typ == "string" and (
            len(lo) >= STR_BOUND_WIDTH or len(hi) >= STR_BOUND_WIDTH
        ):
            return False
        if op == "=":
            return lo == hi == value
        return lo == hi and lo in value
    if op == "<":
        return hi < value
    if op == "<=":
        return hi <= value
    if op == ">":
        return lo > value
    if op == ">=":
        return lo >= value
    raise ValueError(f"unsupported filter op {op!r} (supported: {OPS})")


def parse_cli_filters(specs: list[str], schema: dict[str, str]) -> list[tuple]:
    """COL:OP:VALUE strings (the jobs' --filter syntax) -> (col, op,
    value) triples typed by the snapshot schema. `in` takes a
    comma-separated value list; timestamps parse ISO-8601; `prefix`
    (string columns) matches values starting with VALUE — the url-
    prefix crawl staple, `--filter "url:prefix:https://host/"` —
    rewritten by normalize_filters into its exact range pair."""
    def one(raw: str, typ: str):
        if typ == "int64":
            return int(raw)
        if typ == "double":
            return float(raw)
        if typ in ("timestamp", "timestamp_ntz"):
            import datetime

            return datetime.datetime.fromisoformat(raw)
        return raw

    out = []
    for spec in specs:
        col, op, raw = spec.split(":", 2)
        typ = schema.get(col)
        if typ is None:
            # ValueError, not KeyError: str(KeyError(msg)) repr-quotes
            # the message, which the CLIs print verbatim
            raise ValueError(f"--filter column {col!r} not in snapshot schema")
        val = [one(v, typ) for v in raw.split(",")] if op == "in" else one(raw, typ)
        out.append((col, op, val))
    return out


def prefix_filters(col: str, prefix: str) -> list[tuple]:
    """`col LIKE 'prefix%'` as the EXACT equivalent range pair
    [prefix, prefix-with-last-char-incremented) — the url-prefix crawl
    staple expressed in ops every layer already prunes (zone bounds,
    containment, kernels, JVM residual). The same rewrite the
    DataSource applies to Spark's StringStartsWith pushdown
    (datasource.py pushFilters); over-covers only across the surrogate
    gap, where no valid string sorts anyway."""
    if prefix == "":
        # every non-null string matches, but NULL must NOT (SQL LIKE):
        # >= "" keeps exactly the non-null rows
        return [(col, ">=", "")]
    upper = truncate_max(prefix + "\x00", width=len(prefix))
    out = [(col, ">=", prefix)]
    if upper is not None:
        out.append((col, "<", upper))
    return out


def normalize_filters(filters: list[tuple], schema: dict[str, str]) -> list[tuple]:
    """Validate (col, op, value) triples and map literals into bound
    space; returns [(col, op, bound_value, original_value), ...].

    Accepts the sugar op "prefix" on string columns (value = the
    prefix) and rewrites it to its exact range pair before
    normalization, so every downstream consumer sees only OPS."""
    expanded = []
    for f in filters:
        if len(f) == 3 and f[1] == "prefix":
            col, _, value = f
            if col not in schema:
                # same unknown-column diagnostic every other op gets
                # (ADVICE r5: a typo'd column used to surface as a
                # misleading "needs a string column; 'x' is None")
                raise KeyError(
                    f"filter column {col!r} not in snapshot schema")
            if schema.get(col) != "string":
                raise ValueError(
                    f"filter op 'prefix' needs a string column; "
                    f"{col!r} is {schema.get(col)!r}")
            if not isinstance(value, str):
                raise ValueError(
                    f"filter op 'prefix' needs a string value: {value!r}")
            expanded.extend(prefix_filters(col, value))
        else:
            expanded.append(f)
    out = []
    for f in expanded:
        if len(f) != 3:
            raise ValueError(f"filter must be (column, op, value): {f!r}")
        col, op, value = f
        if col not in schema:
            raise KeyError(f"filter column {col!r} not in snapshot schema")
        if op not in OPS:
            raise ValueError(f"unsupported filter op {op!r} (supported: {OPS})")
        typ = schema[col]
        if op == "in":
            bv = [to_bound_space(v, typ) for v in value]
            # dedupe + sort ONCE so may_match can bisect long lists
            # (semijoin key sets). NaN members break total order and
            # prune_buckets special-cases NaN-holding lists anyway, so
            # those (and any unsortable mix) keep their given order.
            if not any(isinstance(b, float) and math.isnan(b) for b in bv):
                try:
                    # tuple = "sorted" marker may_match keys off; an
                    # unsortable mix stays a list and scans linearly
                    bv = tuple(sorted(set(bv)))
                except TypeError:
                    pass
        else:
            bv = to_bound_space(value, typ)
        out.append((col, op, bv, value))
    return out


def arrow_type(typ: str):
    """Arrow type the block decoder (arrowcodecs) emits for a logical type."""
    import pyarrow as pa

    return {
        "string": pa.string(),
        "binary": pa.binary(),
        "int64": pa.int64(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
        "double": pa.float64(),
        "float_array": pa.list_(pa.float32()),
    }[typ]


def arrow_mask(get_col, norm: list[tuple]):
    """Selection mask for normalized filters over decoded Arrow arrays
    (kernel-side late materialization: scan_table decodes filter
    columns first, evaluates this mask, and only then decodes — and
    emits — the bulk columns for matching rows). Comparison happens in
    bound space (timestamps as epoch-us ints), which is exactly the
    space `normalize_filters` mapped the literals into; NULL never
    matches, mirroring SQL comparison semantics."""
    import pyarrow as pa
    import pyarrow.compute as pc

    mask = None
    for col, op, bv, _orig in norm:
        arr = get_col(col)
        if pa.types.is_timestamp(arr.type):
            arr = arr.cast(pa.int64())
        if pa.types.is_floating(arr.type):
            # Spark SQL and DuckDB both order NaN as the GREATEST
            # double (NaN >= x is true, NaN = NaN is true), while
            # Arrow compares IEEE (all false). The kernel mask runs
            # BEFORE the JVM residual filter, so it must replicate
            # engine semantics or NaN rows vanish from the result.
            m = _float_mask_arrow(arr, op, bv, pa, pc)
        elif op == "in":
            m = pc.is_in(arr, value_set=pa.array(list(bv), type=arr.type))
        else:
            fn = {"=": pc.equal, "<": pc.less, "<=": pc.less_equal,
                  ">": pc.greater, ">=": pc.greater_equal}[op]
            m = fn(arr, pa.scalar(bv, type=arr.type))
        m = pc.fill_null(m, False)
        mask = m if mask is None else pc.and_(mask, m)
    return mask


def _float_mask_arrow(arr, op: str, bv, pa, pc):
    """Float comparison mask with Spark/DuckDB NaN-greatest semantics."""
    isnan = pc.fill_null(pc.is_nan(arr), False)

    def finite_cmp(o, v):
        fn = {"=": pc.equal, "<": pc.less, "<=": pc.less_equal,
              ">": pc.greater, ">=": pc.greater_equal}[o]
        return fn(arr, pa.scalar(v, type=arr.type))

    if op == "in":
        vals = [v for v in bv
                if not (isinstance(v, float) and math.isnan(v))]
        m = pc.is_in(arr, value_set=pa.array(vals, type=arr.type)) \
            if vals else pc.and_(isnan, pc.invert(isnan))  # all-false
        if len(vals) != len(list(bv)):  # a NaN member matches NaN rows
            m = pc.or_(pc.fill_null(m, False), isnan)
        return m
    nan_lit = isinstance(bv, float) and math.isnan(bv)
    if not nan_lit:
        m = finite_cmp(op, bv)
        if op in (">", ">="):  # NaN is greater than every finite value
            m = pc.or_(pc.fill_null(m, False), isnan)
        return m
    # NaN literal: x > NaN never; x >= NaN / x = NaN only NaN rows;
    # x < NaN every non-NaN row; x <= NaN every row
    valid = pc.is_valid(arr)
    if op == ">":
        return pc.and_(isnan, pc.invert(isnan))  # all-false
    if op in (">=", "="):
        return isnan
    if op == "<":
        return pc.and_(valid, pc.invert(isnan))
    return valid  # "<="


def pandas_mask(get_col, norm: list[tuple], schema: dict[str, str]):
    """numpy twin of arrow_mask: the reference implementation the tests
    compare arrow_mask against (every read path runs arrow_mask).

    Known limitation: pandas conflates null and NaN in float columns,
    so this mask cannot replicate Spark's NaN-is-greatest comparison
    semantics for doubles; NaN rows filter like nulls here."""
    import numpy as np

    mask = None
    for col, op, bv, _orig in norm:
        s = get_col(col)
        typ = schema[col]
        valid = s.notna().to_numpy(dtype=bool)
        m = np.zeros(len(s), dtype=bool)
        if valid.any():
            if typ in ("timestamp", "timestamp_ntz"):
                v = s[valid].to_numpy(dtype="datetime64[us]").astype("int64")
            else:
                v = s[valid].to_numpy()
            if op == "in":
                hit = np.isin(v, np.array(list(bv), dtype=v.dtype)) if v.dtype.kind != "O" \
                    else np.array([x in set(bv) for x in v], dtype=bool)
            else:
                import operator

                fn = {"=": operator.eq, "<": operator.lt, "<=": operator.le,
                      ">": operator.gt, ">=": operator.ge}[op]
                hit = fn(v, bv)
            m[valid] = np.asarray(hit, dtype=bool)
        mask = m if mask is None else mask & m
    return mask


def prune_buckets(m: dict, filters: list[tuple],
                  blocks: dict | None = None) -> list[int]:
    """Committed buckets that MAY hold rows matching every filter
    (AND semantics), judged purely from manifest zone stats — no Spark
    job, no payload reads (pass manifest.block_stats(out_dir, m) as
    `blocks` when the snapshot may have spilled stats files; a bucket
    with no visible stats is conservatively kept). Filters must
    already be normalized."""
    if blocks is None:
        blocks = m.get("blocks", {})
    keep = []
    for b in m.get("committed_buckets", []):
        stats = blocks.get(str(b), [])
        # a streamed (multi-generation) bucket holds several block
        # entries per column: bounds must WIDEN across generations —
        # overwriting would prune rows the earlier generations hold
        ranges: dict = {}
        n_seen: dict = {}
        nanless: dict = {}  # double cols: every entry proves znan == 0
        for s in stats:
            nanless[s["column"]] = (
                nanless.get(s["column"], True) and s.get("znan") == 0
            )
            if "zmin" not in s or "zmax" not in s:
                # a generation without recorded bounds voids the
                # column's range (its values are unbounded)
                n_seen[s["column"]] = n_seen.get(s["column"], 0) + 1
                ranges.pop(s["column"], None)
                continue
            cnt = n_seen.get(s["column"], 0)
            n_seen[s["column"]] = cnt + 1
            if s["column"] in ranges:
                lo, hi = ranges[s["column"]]
                ranges[s["column"]] = (min(lo, s["zmin"]), max(hi, s["zmax"]))
            elif cnt == 0:
                ranges[s["column"]] = (s["zmin"], s["zmax"])
        schema = m.get("schema", {})
        ok = True
        for col, op, bv, _orig in filters:
            if schema.get(col) == "double":
                # zone bounds are NaN-blind (Arrow min_max skips NaN)
                # but Spark/DuckDB order NaN as the GREATEST double: a
                # bucket that may hold NaN can match any >/>= predicate
                # regardless of its finite bounds, and a NaN literal's
                # match set is disjoint from what finite bounds can
                # disprove — keep the bucket in both cases
                if isinstance(bv, float) and math.isnan(bv):
                    continue
                if op == "in" and any(
                    isinstance(v, float) and math.isnan(v) for v in bv
                ):
                    continue
                if op in (">", ">=") and not nanless.get(col, False):
                    continue
            if not may_match(ranges.get(col), op, bv):
                ok = False
                break
        if ok:
            keep.append(b)
    return keep
