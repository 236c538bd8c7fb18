"""The decode job: block table -> original rows, bit-identical.

Mirrors the reference's round-trip contract (decode(encode(x)) == x,
naive.rs golden tests) at table scale: every column is reproduced
byte-identical per url — the north-rule invariant. Each bucket decodes
independently (blocks are self-describing) and every block file holds
whole buckets, so one reader (decode_colocated) decodes each file in
place with no shuffle, at any manifest version; decode_table,
scan_table, lookup_keys, agg_table and topk_table all read through it.
"""

from __future__ import annotations

import math

import pyarrow as pa
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession

from .. import blockdecode, manifest
from ..kernels import bloom as bloomkern
from .encode import assert_utc_session, committed_wave_paths

_SPARK_TYPE = manifest.SPARK_DDL_TYPES  # canonical copy lives in manifest

# decode_colocated decodes in the driver when the pruned read's encoded
# payload is at most this many bytes, and in Spark tasks above it.
# Measured on a 4-vCPU VM, local[4], 48,000 pages rows in 16 hash
# buckets, full decode of k buckets into a noop sink (median of 3,
# driver vs Spark): 0.38 MB 161 vs 649 ms, 1.52 MB 383 vs 578 ms,
# 2.14 MB 528 vs 579 ms, 3.02 MB 730 vs 670 ms, 3.79 MB 879 vs 714 ms.
# The driver decodes on one core, so the crossover is ~2.5 MB; the
# threshold sits below it.
LOCAL_READ_MAX_BYTES = 2 << 20


def decode_table(spark: SparkSession, out_dir: str, buckets: list[int] | None = None,
                 columns: list[str] | None = None,
                 version: int | None = None,
                 filters: list[tuple] | None = None) -> DataFrame:
    """Decode the store (optionally bucket- and column-projected, and
    optionally AS OF a past manifest version — time travel over the
    immutable version chain: the read sees exactly the waves that
    version's commit published, Iceberg snapshot-read semantics. A
    version whose wave dirs were since compacted away and reclaimed
    fails like reading an expired Iceberg snapshot).

    The read is decode_colocated's at the pinned snapshot, so a past
    version gets the same two plans as the latest one. `columns` is
    the block-store analogue of parquet column pruning: the block rows
    of other columns are filtered out at the block scan, so their
    payloads (html/text are the bulk of every block) are neither read
    nor decompressed. Output column order follows the manifest schema.

    `filters` ((col, op, value) triples, ANDed) are evaluated INSIDE
    the decode kernel (late materialization, blockdecode.decode_bucket);
    filter columns must survive the `columns` projection. scan_table
    is the user surface that combines this with zone-map bucket
    pruning; here the kernel filter alone still bounds what crosses
    the Arrow boundary."""
    m = manifest.load(out_dir, version=version)
    if m is None:
        raise FileNotFoundError(f"no manifest in {out_dir}")
    return decode_colocated(spark, out_dir, columns=columns, filters=filters,
                            buckets=buckets, snapshot=m)


def _ddl(schema: dict[str, str], cols: list[str] | None = None) -> str:
    """Spark DDL of `cols` (default: all of `schema`)."""
    return ", ".join(f"`{c}` {_SPARK_TYPE[schema[c]]}"
                     for c in (list(schema) if cols is None else cols))


def empty_result(spark: SparkSession, schema: dict[str, str],
                 cols: list[str] | None = None) -> DataFrame:
    """Zero rows of `cols` (default: all of `schema`) as an empty
    LocalRelation: collecting it launches no Spark job, where
    createDataFrame of an empty list plans a LogicalRDD that costs one.
    The empty answer of every read whose pruning leaves nothing."""
    return spark.createDataFrame(blockdecode.empty_table(schema, cols),
                                 _ddl(schema, cols))


def _read_columns(spark: SparkSession, m: dict, columns: list[str] | None,
                  stats: dict[str, list] | None):
    """The decode readers' shared set-up: validate the `columns`
    projection against the snapshot schema and derive the schema-
    evolution null-fill allowance. Returns (schema, dec_schema,
    missing, anchor): the output columns, the columns to decode,
    {bucket: columns it may lack} and the anchor column decoded only
    for its row count (None when not needed).

    Buckets committed before an evolve_schema call have no block for
    the added columns; decode null-fills them (Iceberg read-as-null).
    `stats` (manifest.block_stats, needed only on evolved snapshots)
    tells which buckets those are; a bucket-restricted reader passes
    the stats of its buckets only, so a point lookup on an evolved
    10^5-bucket snapshot opens ~1 spilled stats file, not all."""
    full = manifest.ordered_schema(m)  # {column: type}, input order
    if columns is not None:
        if not columns:
            raise ValueError("columns projection must not be empty")
        unknown = [c for c in columns if c not in full]
        if unknown:
            raise KeyError(f"columns not in snapshot schema: {unknown}")
        schema = {c: t for c, t in full.items() if c in set(columns)}
    else:
        schema = full
    assert_utc_session(spark, schema)
    missing = manifest.missing_columns(m, list(schema), blocks=stats) \
        if m.get("evolved") else {}
    dec_schema = dict(schema)
    anchor = None
    key = m.get("key")
    # a projection of ONLY evolved columns would leave old buckets with
    # zero block rows (their row count unknowable) — anchor on the key
    # column, which every non-empty bucket has, then drop it
    if (missing and columns is not None and key in full
            and key not in dec_schema
            and any(miss >= set(schema) for miss in missing.values())):
        anchor = key
        dec_schema[key] = full[key]
    return schema, dec_schema, missing, anchor


def scan_table(spark: SparkSession, out_dir: str, filters: list[tuple],
               columns: list[str] | None = None,
               version: int | None = None) -> DataFrame:
    """Filtered scan over the compressed store with zone-map pruning.

    `filters` is a list of (column, op, value) with op in zonemap.OPS
    (=, <, <=, >, >=, in), ANDed together — the DataFrame-source
    pushdown contract (Spark's own parquet filter API uses the same
    triples). Pruning happens in four layers before any payload is
    decompressed:

      1. DRIVER, zero Spark jobs: the manifest's per-(bucket, column)
         zone bounds (recorded by encode from each block's meta) drop
         every bucket whose bounds exclude a filter. A predicate
         outside the global value range returns an empty LocalRelation
         (empty_result) — no scan, and no job to collect it.
      2. Wave-dir pruning: surviving buckets select wave dirs via
         wave_buckets (whole directories of a 10^5-bucket snapshot
         never hit the file listing).
      3. Column Bloom sidecars (encode bloom_columns=): an `=`/`in`
         probe on a filtered column drops buckets whose filters prove
         the value absent — the layer zone bounds can't provide on
         high-cardinality equality (still zero Spark jobs).
      4. Parquet row-group stats on the bucket column inside the
         surviving dirs.

    The residual filter is then applied JVM-side on the decoded rows
    (zone bounds are block-granular, and string bounds are truncated,
    so residual evaluation is always required). Columns the filters
    need are decoded even when `columns` projects them out, then
    dropped.

    The decode is decode_colocated's at the pruning's snapshot (the
    latest, or `version`): block files hold whole buckets, so the
    kernels run straight off the scan with no exchange of payload
    bytes, and when the surviving buckets' payload is at most
    LOCAL_READ_MAX_BYTES the driver decodes them: a selective scan then
    returns a LocalRelation that the residual filter folds into, and
    collecting it launches no Spark job.

    Zone pruning is clustering-dependent (hash bucketing scatters
    values): it pays on snapshots whose ingestion clusters the filter
    column — see kmers_spark/zonemap.py."""
    from .. import zonemap

    # one read pins pruning AND decode to the same snapshot (a commit
    # landing mid-scan must not mix two versions' wave sets)
    m = manifest.load(out_dir, version=version)
    if m is None:
        raise FileNotFoundError(f"no manifest in {out_dir}")
    schema = manifest.ordered_schema(m)
    norm = zonemap.normalize_filters(filters, schema)
    if columns is not None:
        unknown = [c for c in columns if c not in schema]
        if unknown:
            raise KeyError(f"columns not in snapshot schema: {unknown}")
        if not columns:
            raise ValueError("columns projection must not be empty")
        out_cols = [c for c in schema if c in set(columns)]
    else:
        out_cols = list(schema)
    buckets = zonemap.prune_buckets(
        m, norm, blocks=manifest.block_stats(out_dir, m)
    )
    # 4th pruning layer, still zero Spark jobs: column Bloom sidecars
    # (encode bloom_columns=) drop buckets where an equality probe
    # tests definitely-absent — the case zone bounds can't prune
    buckets = bloom_prune_filters(out_dir, m, norm, buckets)
    if not buckets:
        return empty_result(spark, schema, out_cols)
    fcols = {c for c, _op, _bv, _v in norm}
    decode_cols = [c for c in schema if c in set(out_cols) | fcols] \
        if columns is not None else None
    # all committed buckets surviving == unfiltered scan: skip the isin
    # (no pruning value, and a 10^5-literal predicate bloats codegen)
    bsel = None if len(buckets) == len(m.get("committed_buckets", [])) else buckets
    df = decode_colocated(spark, out_dir, columns=decode_cols,
                          filters=filters, buckets=bsel, snapshot=m)
    # the kernel already applied the predicate (late materialization);
    # the JVM residual re-asserts it over the surviving rows — near-free
    # (codegen over matches only) and keeps the query's semantics
    # visible to Catalyst for anything stacked on top
    if norm:  # an empty filter list is a plain scan — nothing to assert
        df = df.filter(_filters_expr(norm, schema))
    if columns is not None and set(out_cols) != set(decode_cols or out_cols):
        df = df.select(*out_cols)
    return df


def _filters_expr(norm: list[tuple], schema: dict[str, str]):
    """Residual predicate: one ANDed JVM expression from normalized
    filters (original literal values, cast to the column's type so
    timestamp/ntz literals compare exactly)."""
    import functools

    from pyspark.sql import functions as F

    def lit_for(value, typ: str):
        t = _SPARK_TYPE[typ]
        if typ in ("timestamp", "timestamp_ntz") and isinstance(value, int):
            # epoch-us int (to_bound_space's native form): a plain
            # cast("timestamp") would read it as epoch-SECONDS and the
            # residual filter would silently drop every matching row
            return F.timestamp_micros(F.lit(value)).cast(t)
        if typ in ("timestamp", "timestamp_ntz") and isinstance(value, str):
            value = __import__("datetime").datetime.fromisoformat(value)
        return F.lit(value).cast(t)

    conds = []
    for col, op, _bv, value in norm:
        c = F.col(col)
        typ = schema[col]
        if op == "in":
            lits = [lit_for(v, typ) for v in value]
            conds.append(functools.reduce(
                lambda a, b: a | b, (c == lv for lv in lits)
            ) if lits else F.lit(False))
            continue
        lv = lit_for(value, typ)
        conds.append(
            {"=": c == lv, "<": c < lv, "<=": c <= lv,
             ">": c > lv, ">=": c >= lv}[op]
        )
    return functools.reduce(lambda a, b: a & b, conds)


def _bloom_prune_generic(out_dir: str, m: dict, typ: str,
                         bucket_probes: dict[int, list],
                         reg_sets: dict[str, set[int]],
                         lister) -> set[int]:
    """Candidate buckets surviving a Bloom stage: a bucket is dropped
    only when EVERY wave dir that may hold it has a manifest-registered
    sidecar for it (`reg_sets`: {wave_rel: registered buckets}) and
    every probe value tests definitely-absent in all of them. Any gap —
    pre-bloom snapshot, streamed wave, unregistered wave, missing
    file — keeps the bucket (conservative: Bloom absence may only ever
    ADD decode work). `lister(abs_bloom_dir)` -> {bucket: [paths]} for
    whichever filter family (key or one column) is being probed."""
    import os

    if not reg_sets or "wave_dirs" not in m:
        return set(bucket_probes)
    wb = m.get("wave_buckets", {})
    # hoist: the per-wave bucket lists are up to num_buckets long —
    # materialize their sets once, not per (bucket, wave) iteration
    wb_sets = {d: set(v) for d, v in wb.items()}
    keep: set[int] = set()
    listings: dict[str, dict[int, list[str]]] = {}
    for b, probes in bucket_probes.items():
        if typ == "int64":
            typed = []
            for k in probes:
                try:
                    typed.append(int(k))
                except (TypeError, ValueError):
                    pass  # can't be an int64 value: never present
            if not typed:
                continue  # no parseable probe: bucket can't match
            probes = typed
        maybe = False
        for d in m["wave_dirs"]:
            if d in wb_sets and b not in wb_sets[d]:
                continue  # wave provably doesn't hold this bucket
            if b not in reg_sets.get(d, ()):
                maybe = True  # wave may hold the bucket, no filter
                break
            listing = listings.get(d)
            if listing is None:
                listing = lister(
                    os.path.join(out_dir, d, bloomkern.BLOOM_DIR)
                )
                listings[d] = listing
            paths = listing.get(b)
            if not paths:
                maybe = True  # registered but unreadable: conservative
                break
            payload, bmeta = bloomkern.read_sidecar(paths[0])
            if any(bloomkern.probe(payload, bmeta, k) for k in probes):
                maybe = True
                break
        if maybe:
            keep.add(b)
    return keep


def _bloom_prune(out_dir: str, m: dict, key_col: str,
                 bucket_keys: dict[int, list]) -> set[int]:
    """Key-filter stage of lookup_keys — see _bloom_prune_generic."""
    bb = m.get("bloom_buckets")
    if not bb:
        return set(bucket_keys)
    return _bloom_prune_generic(
        out_dir, m, m["schema"].get(key_col), bucket_keys,
        {d: set(v) for d, v in bb.items()}, bloomkern.list_sidecars,
    )


def bloom_prune_filters(out_dir: str, m: dict, norm: list[tuple],
                        buckets: list[int]) -> list[int]:
    """Column-filter stage of scan_table: for each `=` / `in` predicate
    on a column with registered Bloom sidecars (encode bloom_columns=),
    drop surviving buckets where every probe value tests definitely-
    absent in every wave's filter. This is the pruning layer zone
    bounds can't provide on high-cardinality equality probes (an exact
    URL is inside every bucket's min/max on a hash-bucketed store, but
    in only ~1 bucket's filter). Probes use the normalized BOUND
    values (ints already coerced; strings ride untruncated — only zone
    BOUNDS truncate, filters hash exact values)."""
    bc = m.get("bloom_cols")
    if not bc or not buckets:
        return buckets
    surviving = set(buckets)
    for col, op, bv, _value in norm:
        if op not in ("=", "in") or not surviving:
            continue
        typ = m["schema"].get(col)
        if typ not in ("string", "int64"):
            continue
        if not any(col in (reg or {}) for reg in bc.values()):
            continue  # column never filtered anywhere: skip the listdirs
        probes = [p for p in (bv if op == "in" else [bv]) if p is not None]
        if not probes:
            continue  # NULL never equals anything; leave it to the mask
        if typ == "string" and not all(
            isinstance(p, (str, bytes)) for p in probes
        ):
            # a non-string literal on a string column goes through
            # Spark's cast rules, which the filter can't mirror — keep
            continue
        reg_sets = {d: set((reg or {}).get(col, ()))
                    for d, reg in bc.items()}

        def lister(abs_dir: str, _c: str = col) -> dict[int, list[str]]:
            return bloomkern.list_col_sidecars(abs_dir).get(_c, {})

        surviving = _bloom_prune_generic(
            out_dir, m, typ, {b: probes for b in surviving},
            reg_sets, lister,
        )
    return sorted(surviving)


def key_buckets(m: dict, key) -> list[int]:
    """Buckets of the snapshot `m` that could hold `key` (typed like the
    key column: a str, or an int for an int64 key) under its bucket
    rule. The one placement rule of lookup_keys and of delete_keys'
    driver plan: the driver twin of delete._candidate_pairs, which
    must return the same set on every scheme.

      * hash schemes (and pre-scheme snapshots): exactly one bucket,
        from the golden-tested xxhash64 mirror. An explicit ALLOWLIST:
        hash-deriving under a layout this code has never seen would
        silently report present keys absent.
      * range-bucketed ON the key: exactly one bucket, the same
        searchsorted rule encode used (driver-side bisect), heavy-value
        overflow salt included — with cluster == key the salt input is
        the key itself.
      * every other scheme (external, zorder, range on another column,
        a future one): the key does not determine placement, so the
        candidates are the committed buckets whose recorded
        [key_min, key_max] may hold it (blocks are key-sorted, so the
        recorded range stays exact)."""
    from . import partitioning

    key_col = m["key"]
    scheme = m.get("bucket_scheme", partitioning.LEGACY_SCHEME)
    if scheme in (partitioning.BUCKET_SCHEME, partitioning.LEGACY_SCHEME):
        return [partitioning.bucket_for_key(key, m["num_buckets"],
                                            m.get("hot_keys") or {},
                                            scheme=scheme)]
    if scheme == partitioning.RANGE_SCHEME and m.get("cluster_by") == key_col:
        return [partitioning.range_bucket_for_key(
            key, m["range_boundaries"], m["schema"][key_col])]
    ranges = m.get("bucket_key_ranges", {})
    return [b for b in sorted(int(x) for x in m.get("committed_buckets", []))
            if may_hold(ranges.get(str(b)), key)]


def may_hold(rng, key) -> bool:
    """Can the recorded [key_min, key_max] contain `key` (typed like
    the key column)? Only a range of the key's own type proves
    absence; a missing or differently-typed range keeps the bucket."""
    if rng is None or type(key) not in (str, int):
        return True
    lo, hi = rng
    if type(lo) is type(hi) is type(key):
        return lo <= key <= hi
    return True


def lookup_keys(spark: SparkSession, out_dir: str, keys: list[str]) -> DataFrame:
    """Point lookups against the COMPRESSED store: re-derive each key's
    bucket from the manifest (same salted hash the encode job used —
    computed DRIVER-SIDE via the golden-tested xxhash64 mirror, so no
    Spark job runs before the decode itself), prune buckets whose
    recorded key range (Iceberg file-stats analogue, written at commit)
    excludes every probe key that hashes to them, probe the per-bucket
    key Bloom sidecars (kernels/bloom.py) to drop buckets where every
    probe key is definitely absent, decode ONLY the surviving buckets
    (the bucket predicate prunes parquet row groups, test_plans.py),
    and filter to the requested keys. At 10^12 rows this touches at
    most |keys| buckets out of num_buckets — and ZERO buckets for
    absent keys, whether outside the stored ranges (range pruning) or
    inside them (Bloom pruning, up to the ~1% false-positive rate).

    The decode is decode_colocated's, so a lookup whose surviving
    buckets carry at most LOCAL_READ_MAX_BYTES of payload decodes in
    the driver and launches no Spark job to produce its rows; a lookup
    pruned to zero buckets returns an empty LocalRelation
    (empty_result), which launches none either. `keys`
    has set semantics: each stored row is returned once, however often
    its key is probed. A probe matches when it equals the stored key
    rendered as a string (int key 7 matches "7", not "007")."""
    m = manifest.load(out_dir)
    if m is None:
        raise FileNotFoundError(f"no manifest in {out_dir}")
    key_col = m["key"]
    ranges = m.get("bucket_key_ranges", {})
    int_key = m["schema"].get(key_col) == "int64"
    bucket_keys: dict[int, list[str]] = {}
    for k in keys:
        if int_key:
            # int64-key snapshots place and range typed ints; a
            # non-numeric probe cannot be a stored key at all
            try:
                typed = int(k)
            except (TypeError, ValueError):
                continue
        else:
            typed = k
        for b in key_buckets(m, typed):
            if may_hold(ranges.get(str(b)), typed):
                bucket_keys.setdefault(int(b), []).append(k)
    # key Bloom sidecars (kernels/bloom.py): drop every candidate
    # bucket whose covering waves all carry a filter and every probe
    # key tests definitely-absent — an absent key INSIDE a bucket's
    # key range then costs a ~KB driver read instead of a bucket decode
    buckets = _bloom_prune(out_dir, m, key_col, bucket_keys)
    if not buckets:
        return empty_result(spark, manifest.ordered_schema(m))
    # the key predicate also rides INTO the decode kernel (late
    # materialization): only probe-key rows cross the Arrow boundary,
    # and segmented bulk columns decompress only matching segments
    try:
        # shuffle-free: the surviving buckets' wave files decode in
        # place (no exchange of payload bytes for a point lookup)
        decoded = decode_colocated(
            spark, out_dir, buckets=sorted(buckets),
            filters=[(key_col, "in", list(keys))] if keys else None,
        )
    except (ValueError, TypeError):
        # probe literals that don't parse as the key's type (e.g. a
        # non-numeric probe against an int64 key) can't match anyway;
        # decode the buckets and let the residual filter return empty
        decoded = decode_colocated(spark, out_dir, buckets=sorted(buckets))
    # compare as strings: an implicit probe->BIGINT cast (ANSI) would
    # CRASH the whole lookup on one malformed probe key. A filter, not
    # a join: each stored row returns once however often it is probed,
    # and over a driver-local decode it folds into the LocalRelation
    return decoded.filter(decoded[key_col].cast("string").isin(list(keys)))


def decode_colocated(spark: SparkSession, out_dir: str,
                     columns: list[str] | None = None,
                     filters: list[tuple] | None = None,
                     buckets: list[int] | None = None,
                     snapshot: dict | None = None,
                     *, read: "_ColocatedRead | None" = None) -> DataFrame:
    """The decode reader: the store at `snapshot` (default: the latest
    manifest; decode_table passes a pinned version), optionally bucket-
    and column-projected, with `filters` late-materialized inside the
    kernel. `read` is the set-up of these same arguments when the
    caller already built it (agg_table tries the driver plan on it
    first).

    Block files are written bucket-grouped (one writer task = whole
    buckets), so each file decodes on its own with no exchange of
    payload bytes. The plan is chosen by the payload the read must
    fetch — the block-stats enc_nbytes of the surviving buckets'
    decoded columns:

      * at most LOCAL_READ_MAX_BYTES: the DRIVER decodes the rows
        (_ColocatedRead.local_table) and returns
        spark.createDataFrame(table) — a LocalRelation. No Spark job is
        needed to produce it, and filters stacked on top fold into it.
      * larger: a mapInArrow pass over the block files, one file per
        scan partition, runs the same kernel in Spark tasks.

    Both plans decode one file at a time, bucket by bucket, so they
    return the same rows and raise the same corruption errors. Before
    decoding anything, both check in the driver that no bucket of a
    batch wave sits in two files (a whole stray copy of a bucket would
    otherwise decode twice), so that error raises at call time on
    either plan; the driver plan's kernel errors do too."""
    from .. import arrowcodecs

    if read is None:
        read = _ColocatedRead(spark, out_dir, columns, filters, buckets, snapshot)
    out_schema = _ddl(read.dec_schema, read.cols)
    table = read.local_table()
    if table is not None:
        return spark.createDataFrame(table, out_schema)
    read.check_whole_buckets()

    # Whole files per scan partition so buckets never split: the default
    # spark.sql.files.maxPartitionBytes (128MB) would split a large block
    # file at row-group boundaries and scatter a bucket's rows. Session
    # confs are session-scoped, so plan the read on an isolated newSession
    # (same SparkContext) with both split knobs pushed to 1 TiB — each
    # block file (one writer task = whole buckets) becomes one partition.
    s2 = spark.newSession()
    for conf in ("spark.sql.session.timeZone",
                 "spark.sql.execution.arrow.maxRecordsPerBatch"):
        try:
            s2.conf.set(conf, spark.conf.get(conf))
        except Exception:
            pass
    s2.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 40))
    s2.conf.set("spark.sql.files.openCostInBytes", str(1 << 40))
    blocks = s2.read.parquet(*read.paths)
    if read.buckets is not None:
        blocks = blocks.filter(blocks.bucket.isin(read.buckets))
    if read.projected:
        # projection below the scan: unwanted payloads never decompress
        blocks = blocks.filter(blocks.column.isin(list(read.dec_schema)))
    streamed = read.gen_missing is not None
    if streamed:
        # file provenance for the kernel: which WAVE each block row came
        # from. A projection, not a shuffle — the plan stays exchange-free.
        from pyspark.sql import functions as F

        blocks = blocks.withColumn("_gen", F.input_file_name())

    def decode_partition(batches):
        arrowcodecs.pin_worker_threads()
        tables = [pa.Table.from_batches([b]) for b in batches]
        if not tables:
            return
        rows = pa.concat_tables(tables)
        by_file = blockdecode.split_rows(rows, "_gen") if streamed \
            else [(None, rows)]
        for gen, frows in by_file:
            for out in read.decode_file(frows, gen and blockdecode.wave_of(gen)):
                yield from out.to_batches()

    return blocks.mapInArrow(decode_partition, out_schema)


class _ColocatedRead:
    """The set-up both plans of a colocated read share: the columns to
    decode, the normalized filters, the surviving wave files, the
    block-row predicate and the per-file kernel."""

    def __init__(self, spark: SparkSession, out_dir: str,
                 columns: list[str] | None, filters: list[tuple] | None,
                 buckets: list[int] | None, snapshot: dict | None):
        m = snapshot if snapshot is not None else manifest.load(out_dir)
        if m is None:
            raise FileNotFoundError(f"no manifest in {out_dir}")
        self.buckets = buckets
        stats = manifest.block_stats(out_dir, m, buckets=buckets)
        schema, self.dec_schema, self.missing, _anchor = _read_columns(
            spark, m, columns, stats)
        self.payload = _payload_bytes(stats, buckets, self.dec_schema)
        # the kernel emits only these; an anchor column in dec_schema
        # is fetched for its row count and never decoded
        self.cols = list(schema)
        self.norm = None
        if filters:
            from .. import zonemap

            self.norm = zonemap.normalize_filters(filters, schema)
        # wave-dir pruning for bucket-filtered reads
        self.paths = committed_wave_paths(out_dir, m, buckets=buckets)
        self.projected = columns is not None \
            and len(self.dec_schema) < len(manifest.ordered_schema(m))
        # the block rows the read fetches, as a pyarrow.dataset filter
        self.pred = pads.scalar(True)
        if buckets is not None:
            self.pred &= pads.field("bucket").isin(list(buckets))
        if self.projected:
            self.pred &= pads.field("column").isin(list(self.dec_schema))
        # streamed stores: the evolution allowance applies per GENERATION
        # (a post-evolution generation missing an evolved column raises)
        self.gen_missing = manifest.wave_allowance(m, self.cols) \
            if m.get("streamed") else None
        # a batch wave holds each bucket in ONE file; a streamed store
        # adds a generation of a bucket per file
        self.whole_buckets = not m.get("streamed")

    def fragments(self) -> list[tuple[str, object]]:
        """(wave path, parquet fragment) of every block file the read
        opens."""
        return [(p, frag) for p in self.paths
                for frag in pads.dataset(p, format="parquet").get_fragments()]

    def decode_file(self, rows: pa.Table, wave: str | None):
        """One block file's rows (whole buckets of one generation) ->
        the decoded table of each bucket with selected rows."""
        for b, brows in blockdecode.split_rows(rows):
            allow = self.gen_missing.get(wave, set()) \
                if self.gen_missing is not None else self.missing.get(int(b), ())
            out = blockdecode.decode_bucket(brows, self.dec_schema, self.norm,
                                            allow, self.cols)
            if out.num_rows:
                yield out

    def check_whole_buckets(self) -> None:
        """The Spark plan's whole-bucket check, run in the driver before
        the plan is built: it reads each file's bucket field (no
        payload, no Spark job)."""
        if self.whole_buckets:
            _assert_whole_buckets(
                (p, frag.path, frag.to_table(filter=self.pred, columns=["bucket"]))
                for p, frag in self.fragments())

    def local_table(self) -> pa.Table | None:
        """The driver plan: the block rows read with pyarrow.dataset,
        file by file, checked for whole buckets, then decoded through
        decode_file — or None over the budget. A read with no committed
        file is empty whatever its stats say."""
        if not self.paths:
            return blockdecode.empty_table(self.dec_schema, self.cols)
        if self.payload > LOCAL_READ_MAX_BYTES:
            return None
        files = [(p, frag.path,
                  frag.to_table(filter=self.pred, columns=blockdecode.FETCH))
                 for p, frag in self.fragments()]
        if self.whole_buckets:
            _assert_whole_buckets(files)
        tables = [t for _p, path, rows in files
                  for t in self.decode_file(rows, blockdecode.wave_of(path))]
        return pa.concat_tables(tables) if tables \
            else blockdecode.empty_table(self.dec_schema, self.cols)


def _assert_whole_buckets(files) -> None:
    """Raise the kernel's duplicate-block-rows error when a bucket sits
    in two of `files` ((wave path, file path, block rows holding at
    least their `bucket` field)) of one wave."""
    import os

    import pyarrow.compute as pc

    seen: dict[tuple[str, int], str] = {}
    for wave, path, rows in files:
        for b in pc.unique(rows.column("bucket")).to_pylist():
            first = seen.setdefault((wave, b), path)
            if first != path:
                raise ValueError(
                    f"duplicate block rows for bucket {b}: wave {wave} holds "
                    f"it in two files ({os.path.basename(first)}, "
                    f"{os.path.basename(path)}) (stray rows from an "
                    "uncommitted write, or a corrupt wave dir)"
                )


def _payload_bytes(stats: dict[str, list], buckets: list[int] | None,
                   cols) -> float:
    """Encoded payload bytes a colocated read of `buckets` (None: every
    committed bucket) x `cols` fetches, from block stats — inf when
    the stats cannot bound it (a store without stats)."""
    if not stats:
        return math.inf
    want = None if buckets is None else {str(b) for b in buckets}
    return sum(s.get("enc_nbytes", math.inf)
               for b, entries in stats.items() if want is None or b in want
               for s in entries if s["column"] in cols)
