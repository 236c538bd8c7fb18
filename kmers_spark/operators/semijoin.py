"""Semi-join pruned scans: dynamic partition pruning re-expressed over
the encoded store.

Spark prunes parquet partitions from a dim-table filter at runtime
(dynamic partition pruning); the encoded store can do strictly better
because its manifest carries per-bucket zone bounds AND column Bloom
sidecars. `semijoin_scan` collects the dim side's distinct join keys
(driver-bounded), prunes store buckets with ZERO Spark jobs through the
same zone + Bloom layers scan_table uses, decodes only the surviving
buckets, and finishes with a broadcast join for exact semantics.

The 100 TB shape this serves: "join the crawl against a 10k-host
blocklist / a sampled doc-id audit set / yesterday's re-crawl keys".
A shuffle join moves the full decoded store; this moves only the
buckets that can hold a dim key — on a Bloom-covered or key-clustered
store that is ~|dim| buckets out of 10^5, decided before any executor
starts.

Three regimes by |dim keys| (soft boundaries, all exact):

  * <= push_in_max (default 1024): the keys ride scan_table's plain
    `in` filter — all four pruning layers plus kernel-level late
    materialization, and the JVM residual OR-chain stays small enough
    for codegen.
  * <= keys_max (default 200_000): buckets are pruned driver-side with
    the same zone bisect (normalize_filters sorts the key list; see
    zonemap.may_match) and Bloom probes, but the big IN never reaches
    the JVM residual (_filters_expr builds an OR-equality chain — a
    10^5-literal predicate would blow up codegen); the kernels still
    apply it Arrow-side (pc.is_in is a hash probe), and a broadcast
    [left-semi | inner] join asserts exactness.
  * > keys_max: an unbounded dim must not be collected — fall back to
    a full (still filter-pruned) scan joined in Spark, where AQE picks
    broadcast vs shuffle. Correct, just unpruned.

The Bloom layer's driver cost is |keys| x |surviving buckets| hash
probes (vectorized, but real); `bloom_probe_budget` caps it — past the
cap the layer is skipped and zone pruning alone decides (sound: Bloom
only ever removes buckets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import manifest, zonemap
from . import decode as _dec
from .decode import _SPARK_TYPE, _filters_expr, bloom_prune_filters

PUSH_IN_MAX = 1024
KEYS_MAX = 200_000
BLOOM_PROBE_BUDGET = 50_000_000


def semijoin_scan(spark: SparkSession, out_dir: str, on: str,
                  dim, dim_on: str | None = None,
                  columns: list[str] | None = None,
                  filters: list[tuple] | None = None,
                  how: str = "semi",
                  push_in_max: int = PUSH_IN_MAX,
                  keys_max: int = KEYS_MAX,
                  bloom_probe_budget: int = BLOOM_PROBE_BUDGET) -> DataFrame:
    """Scan the store at `out_dir` keeping rows whose `on` value appears
    in `dim` (a DataFrame, or an iterable of literal keys), with bucket
    pruning driven by the dim's distinct keys — see module docstring.

    `dim_on` names the dim-side join column (default: same as `on`).
    `how`: "semi" returns store columns only (set semantics on the dim
    side — duplicate dim keys don't duplicate store rows); "inner"
    attaches the dim's other columns (standard inner-join semantics,
    duplicate dim keys DO duplicate rows, as SQL requires). For
    "inner", dim column names must not collide with store columns
    except the join key. `filters` are extra (col, op, value) triples
    ANDed in, same contract as scan_table. NULL never joins (SQL
    equality), on either side."""
    if how not in ("semi", "inner"):
        raise ValueError(f"how must be 'semi' or 'inner', got {how!r}")
    dim_on = dim_on or on
    filters = list(filters or [])

    if not isinstance(dim, DataFrame):
        keys = sorted({k for k in dim if k is not None})
        if how == "inner":
            raise ValueError("how='inner' needs a DataFrame dim "
                             "(literal keys carry no payload columns)")
        dim_df = None
        overflow = len(keys) > keys_max
    else:
        dim_df = dim
        if dim_on not in dim_df.columns:
            raise KeyError(f"dim has no column {dim_on!r}")
        # bounded driver collect: keys_max+1 detects overflow without
        # ever pulling an unbounded dim onto the driver
        rows = (dim_df.select(dim_on).where(F.col(dim_on).isNotNull())
                .distinct().limit(keys_max + 1).collect())
        keys = sorted(r[0] for r in rows)
        overflow = len(keys) > keys_max

    m, _pin = manifest.load_with_version(out_dir)
    if m is None:
        raise FileNotFoundError(f"no manifest in {out_dir}")
    schema = manifest.ordered_schema(m)
    if on not in schema:
        raise KeyError(f"join column {on!r} not in snapshot schema")

    if overflow:
        # dim too big to prune with: full scan (other filters still
        # prune) + Spark join; AQE decides broadcast vs shuffle. A
        # literal iterable is already driver-held in full, so it
        # becomes the join's dim frame (dropping the IN here would
        # silently return the unfiltered scan).
        if dim_df is None:
            dim_df = spark.createDataFrame(
                ((k,) for k in keys),
                f"`{dim_on}` {_SPARK_TYPE[schema[on]]}")
        base = _dec.scan_table(spark, out_dir, filters, columns=_need(
            schema, columns, filters, on))
        return _finish(base, dim_df, on, dim_on, how, schema, columns,
                       broadcast=False)

    if not keys:
        out_cols = _out_cols(schema, columns)
        empty = _dec.empty_result(spark, schema, out_cols)
        return _finish(empty, dim_df, on, dim_on, how, schema, columns,
                       broadcast=True) if how == "inner" else empty

    if len(keys) <= push_in_max:
        # small key set: ride scan_table's IN end-to-end (zone + Bloom
        # + kernel mask + JVM residual); the residual OR-chain is small
        base = _dec.scan_table(spark, out_dir, filters + [(on, "in", keys)],
                          columns=_need(schema, columns, filters, on))
        return _finish(base, dim_df, on, dim_on, how, schema, columns,
                       broadcast=True)

    # big key set: prune driver-side, decode survivors, broadcast join.
    # normalize sorts the key tuple once -> zone overlap is one bisect
    # per (bucket, filter); the IN stays OUT of the JVM residual.
    norm_in = zonemap.normalize_filters([(on, "in", keys)], schema)
    norm_other = zonemap.normalize_filters(filters, schema)
    blocks = manifest.block_stats(out_dir, m)
    buckets = zonemap.prune_buckets(m, norm_other + norm_in, blocks=blocks)
    if buckets and len(keys) * len(buckets) <= bloom_probe_budget:
        buckets = bloom_prune_filters(out_dir, m, norm_in, buckets)
        buckets = bloom_prune_filters(out_dir, m, norm_other, buckets)
    if not buckets:
        out_cols = _out_cols(schema, columns)
        base = _dec.empty_result(spark, schema, out_cols)
        return _finish(base, dim_df, on, dim_on, how, schema, columns,
                       broadcast=True) if how == "inner" else base
    bsel = None if len(buckets) == len(m.get("committed_buckets", [])) \
        else buckets
    decode_cols = _need(schema, columns, filters, on)
    # the kernels get the full predicate INCLUDING the big IN — Arrow's
    # pc.is_in is a hash probe, so late materialization still drops
    # non-matching rows before payload columns decode
    base = _dec.decode_colocated(spark, out_dir, columns=decode_cols,
                            filters=filters + [(on, "in", keys)],
                            buckets=bsel, snapshot=m)
    if norm_other:
        base = base.filter(_filters_expr(norm_other, schema))
    return _finish(base, dim_df, on, dim_on, how, schema, columns,
                   broadcast=True, keys=keys)


def _out_cols(schema: dict, columns: list[str] | None) -> list[str]:
    if columns is None:
        return list(schema)
    unknown = [c for c in columns if c not in schema]
    if unknown:
        raise KeyError(f"columns not in snapshot schema: {unknown}")
    if not columns:
        raise ValueError("columns projection must not be empty")
    return [c for c in schema if c in set(columns)]


def _need(schema: dict, columns: list[str] | None,
          filters: list[tuple], on: str) -> list[str] | None:
    """Decode projection: requested columns + join key + filter cols."""
    if columns is None:
        return None
    need = set(_out_cols(schema, columns)) | {on} | {f[0] for f in filters}
    return [c for c in schema if c in need]


def _finish(base: DataFrame, dim_df: DataFrame | None, on: str,
            dim_on: str, how: str, schema: dict,
            columns: list[str] | None, broadcast: bool,
            keys: list | None = None) -> DataFrame:
    """Assert exact join semantics on the decoded survivors and project.

    `keys` set (big-key-set path, literal dim): the kernels already
    applied the IN exactly, and a 10^5-literal residual would bloat
    codegen — a broadcast left-semi against a keys DataFrame re-asserts
    it JVM-side instead."""
    out_cols = _out_cols(schema, columns)
    if dim_df is None:
        if keys is not None:
            spark = base.sparkSession
            kdf = spark.createDataFrame(
                [(k,) for k in keys], f"`{on}` {_SPARK_TYPE[schema[on]]}")
            base = base.join(F.broadcast(kdf), on=on, how="leftsemi")
        return base.select(*out_cols) if columns is not None else base
    right = dim_df if dim_on == on else dim_df.withColumnRenamed(dim_on, on)
    if how == "semi":
        right = right.select(on).distinct()
        joined = base.join(
            F.broadcast(right) if broadcast else right, on=on, how="leftsemi")
        return joined.select(*out_cols) if columns is not None else joined
    clash = (set(right.columns) - {on}) & set(schema)
    if clash:
        raise ValueError(f"dim columns collide with store columns: "
                         f"{sorted(clash)} (rename the dim side)")
    joined = base.join(
        F.broadcast(right) if broadcast else right, on=on, how="inner")
    keep = (out_cols if columns is not None else list(schema)) \
        + [c for c in right.columns if c != on]
    return joined.select(*keep)
