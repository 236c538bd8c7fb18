"""The encode job: DataFrame -> compressed block table + lineage manifest.

Pipeline (all declarative until the codec kernels):
    input df
      -> salted skew-aware bucket assignment (partitioning.with_bucket)
      -> groupBy(bucket).applyInArrow(encode kernels)    [Arrow batches]
      -> mapInArrow: each task stages one block parquet file of whole
         buckets and returns their stats (kmers_spark/wavewrite.py)
      -> driver publishes the claimed files as a wave     [resume unit]
      -> manifest commit markers + per-block codec/size stats

Block row: (bucket, column, codec, n_rows, raw_nbytes, enc_nbytes,
payload binary, meta json). Rows within a block are sorted by the key
column — or by (cluster_col, key) for range-clustered stores, so a
range predicate selects a contiguous run and segment skipping composes
with bucket pruning — making encoding deterministic under Spark's
nondeterministic partition ordering; order is part of the format
(SURVEY.md §7).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import arrowcodecs, manifest, selector, wavewrite, zonemap
from ..kernels import bloom as bloomkern
from ..kernels import sketch as sketchkern
from . import partitioning

BLOCK_SCHEMA = (
    "bucket int, column string, codec string, n_rows long, "
    "raw_nbytes long, enc_nbytes long, payload binary, meta string"
)


def assert_utc_session(spark: SparkSession, schema: dict[str, str]) -> None:
    """tz-aware timestamps are stored as epoch-us. Any conversion that
    sees session-local naive datetimes (pandas, for one) would shift
    them by the tz offset under a non-UTC session, so blocks are only
    portable when the session is pinned to UTC (session.py does)."""
    if "timestamp" in schema.values():
        tz = spark.conf.get("spark.sql.session.timeZone")
        if tz != "UTC":
            raise ValueError(
                f"encode/decode of tz-aware timestamp columns requires "
                f"spark.sql.session.timeZone=UTC (got {tz!r})"
            )


def make_encode_fn_arrow(schema: dict[str, str], key: str,
                         codec_overrides: dict[str, str] | None,
                         sort_by: list[str] | None = None,
                         ndv_cols: list[str] | None = None,
                         presorted: bool = False):
    """Build the group encoder: one bucket's rows -> its block rows.
    Rows stay in Arrow buffers end-to-end; sort/dictionary/token work
    happens in C++ and the bit-level kernels in numpy. Everything it
    captures is a small plain dict (cheap closure pickling). It touches
    no storage: writers add the bucket's Bloom payloads with
    wavewrite.with_blooms and stage everything through the write
    protocol (kmers_spark/wavewrite.py).

    `sort_by` orders rows within the block (default: the key column).
    Range-clustered stores pass [cluster_col, key]: a range predicate
    then selects a CONTIGUOUS run of rows, so segmented codecs' mask-
    driven segment skipping composes with bucket pruning on scans
    (without it, the surviving buckets' intra-bucket scan is full).
    `presorted=True` skips the in-kernel sort AND its full-table take()
    copy — for callers whose rows already arrive in sort_by order (a
    merge-on-write rewrite that appends nothing: its survivors keep the
    stored block order)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .. import arrowcodecs, wavewrite

    overrides = codec_overrides or {}
    sort_cols = sort_by or [key]

    def encode_group(table: "pa.Table") -> "pa.Table":
        if not presorted:
            idx = pc.sort_indices(
                table, sort_keys=[(c, "ascending") for c in sort_cols]
            )
            table = table.take(idx)
        bucket = table.column("bucket")[0].as_py() if table.num_rows else -1
        rows = {k: [] for k in ("bucket", "column", "codec", "n_rows",
                                "raw_nbytes", "enc_nbytes", "payload", "meta")}
        for col, typ in schema.items():
            arr = table.column(col)
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.combine_chunks()
            codec = overrides.get(col) or selector.select_codec(
                arrowcodecs.column_stats_arrow(arr, typ), typ
            )
            payload, meta = arrowcodecs.encode_column_arrow(arr, codec, typ)
            # meta carries the ACTUAL codec (encode may fall back, e.g.
            # dec_scale -> xor_float on an inexact block)
            codec = meta.get("codec", codec)
            zb = zonemap.bounds_arrow(arr, typ)
            if zb is not None:
                # per-block zone map (Iceberg column bounds analogue):
                # lands in the manifest at commit; scan_table prunes
                # buckets whose bounds exclude a filter, driver-side
                meta = {**meta, "zmin": zb[0], "zmax": zb[1]}
            # null count + (overflow-safe) int sum: metadata-only
            # aggregates (agg.agg_table) answer count(col)/sum(col)
            # from these without touching the payload. Doubles also
            # record a NaN count: Arrow's min_max SKIPS NaN, so zone
            # bounds are NaN-blind (sound for pruning — NaN matches no
            # comparison) but SQL max must return NaN when one exists,
            # and a filter-contained block must not count NaN rows as
            # matching; znan lets agg_table know without decoding
            meta = {**meta, "znull": arr.null_count}
            if typ == "double":
                meta = {**meta, "znan": int(
                    pc.sum(pc.is_nan(arr)).as_py() or 0
                )}
            if typ == "int64" and zb is not None:
                nn = len(arr) - arr.null_count
                if nn and max(abs(zb[0]), abs(zb[1])) * nn < 2**62:
                    meta = {**meta, "zsum": int(pc.sum(arr).as_py())}
            if col == key:
                # exact distinct-key count of the block: bucket schemes
                # map a key to ONE bucket, so agg_table can answer
                # count(DISTINCT key) by summing these across buckets
                # without decoding (operators/agg.py eligibility rules)
                meta = {**meta, "zndv": int(
                    pc.count_distinct(arr, mode="only_valid").as_py() or 0
                )}
            if ndv_cols and col in ndv_cols and typ in ("string", "int64"):
                # ndv_columns= HLL sketch (kernels/sketch.py): per-block
                # registers whose max-merge is overlap-insensitive, so
                # agg_table answers approx_count_distinct(col) with zero
                # Spark jobs on ANY scheme — including the layouts where
                # exact zndv counts can never add (streamed generations,
                # range-on-other, external sink buckets, non-key columns)
                regs = sketchkern.hll_build_arrow(arr, typ)
                if regs is not None:
                    meta = {**meta, "zhll": sketchkern.pack(regs)}
            if col == key and len(arr) and typ in ("string", "int64"):
                # Iceberg file-stats analogue: the block's key range rides
                # in the key column's meta and lands in the manifest at
                # commit (decode.lookup_keys prunes buckets whose range
                # excludes every probe key). Non-null min/max: valid
                # whatever sort_by ordered the rows by, and a null key
                # never matches a probe, so the range bounds every
                # probeable key. JSON-safe types only.
                mm = pc.min_max(arr)
                lo, hi = mm["min"].as_py(), mm["max"].as_py()
                if isinstance(lo, (str, int)) and isinstance(hi, (str, int)):
                    meta = {**meta, "key_min": lo, "key_max": hi}
            if typ in ("string", "binary"):
                from .. import arrowview as av

                _, offs = av.bytes_view(arr)
                raw = int(offs[-1] - offs[0])
            elif typ == "float_array":
                raw = 4 * len(arr.flatten())
            else:
                raw = 8 * len(arr)
            rows["bucket"].append(bucket)
            rows["column"].append(col)
            rows["codec"].append(codec)
            rows["n_rows"].append(len(arr))
            rows["raw_nbytes"].append(raw)
            rows["enc_nbytes"].append(len(payload))
            rows["payload"].append(payload)
            rows["meta"].append(json.dumps(meta, sort_keys=True))
        return wavewrite.block_table(rows)

    return encode_group


def encode_blocks_df(bucketed: DataFrame, schema: dict[str, str], key: str,
                     codec_overrides: dict[str, str] | None) -> DataFrame:
    """groupBy(bucket) -> block rows (applyInArrow), without Bloom rows:
    the in-memory form the round trip and the entry point's codec
    report read. encode_table runs the same plan with Bloom rows and
    writes its output through the write protocol.

    Measured dead end (r6, kept as a record): pre-sorting rows JVM-side
    (repartition(bucket) + sortWithinPartitions(bucket, *sort_by) +
    mapInArrow with presorted=True) to skip the in-kernel
    pc.sort_indices + take() copy was an interleaved-A/B WASH at 4
    cores (old min 27.9s vs new 28.4s over 3 pairs, 4M rows): the JVM
    string sort over whole partitions costs what the per-bucket Arrow
    sort saved. The groupBy path stays; presorted=True remains the win
    where order already exists (the survivors of a rewrite that appends
    nothing)."""
    encode = make_encode_fn_arrow(schema, key, codec_overrides)

    def encode_in_task(table):
        arrowcodecs.pin_worker_threads()
        return encode(table)

    return bucketed.groupBy("bucket").applyInArrow(encode_in_task,
                                                   BLOCK_SCHEMA)


def plan_buckets(df: DataFrame, num_buckets: int, hot_keys: dict[str, int],
                 key: str = "url",
                 scheme: str = partitioning.BUCKET_SCHEME) -> DataFrame:
    return partitioning.with_bucket(df, num_buckets, hot_keys, url_col=key,
                                    scheme=scheme)


def encode_table(
    df: DataFrame,
    out_dir: str,
    *,
    key: str = "url",
    num_buckets: int = 32,
    codec_overrides: dict[str, str] | None = None,
    snapshot_id: str = "snap-0",
    detect_skew: bool = True,
    resume: bool = True,
    fail_buckets_over: int | None = None,
    commit_every: int | None = None,
    cluster_by: str | None = None,
    bloom_columns: list[str] | None = None,
    ndv_columns: list[str] | None = None,
    layout_from: str | None = None,
) -> dict:
    """Run the encode job; returns the updated manifest dict.

    `ndv_columns=[cols]` records a per-block HyperLogLog sketch (stat
    `zhll`, kernels/sketch.py) for the named string/int64 columns —
    `agg_table` then answers approx_count_distinct(col) (~3.2% stderr)
    by max-merging registers driver-side with ZERO Spark jobs, on ANY
    bucket scheme: register union is overlap-insensitive, so it covers
    the layouts where exact per-block zndv counts can never add
    (non-key columns, range-on-other-column stores, streamed
    generations, external sink buckets). Snapshot-format config like
    bloom_columns (mutations regenerate rewritten buckets' sketches;
    the key column may be listed — zndv stays exact where it applies,
    the sketch serves the schemes it can't).

    `bloom_columns=[cols]` builds per-bucket Bloom sidecars over the
    named NON-key columns (string/int64) in the same encode pass —
    `scan_table` then drops buckets where an equality/IN probe on such
    a column tests definitely-absent, the layer that pays when zone
    bounds can't: a high-cardinality value (an exact URL, a content
    hash) is IN every bucket's min/max range on a hash-bucketed store,
    but in only ~1 bucket's filter. Part of the snapshot config
    (mutations regenerate the filters for rewritten buckets); pre-
    bloom snapshots and gaps degrade to no pruning, never wrong
    answers.

    `cluster_by=<col>` switches bucketing from the salted host hash to
    RANGE bucketing on that column: equal-frequency boundaries are
    sampled once at table creation (one bounded job), recorded in the
    manifest (bucket_scheme="range"), and rows are assigned by a
    vectorized searchsorted — so each bucket holds one contiguous value
    range and the per-block zone maps the commit already records become
    DISJOINT. That converts the 4-layer scan stack from "prunes only
    out-of-range predicates" (hash bucketing scatters values —
    zonemap.py) to "prunes ~all buckets" for range filters on the
    cluster column: the dominant warc_ts-range scan of a 100 TB crawl
    reads ~selectivity×buckets instead of all of them. Equal-frequency
    cuts are the skew control (no salting needed); the sample is the
    only extra cost. Resume reuses the recorded boundaries, so
    re-assignment is exact.

    `cluster_by=[a, b]` (2+ columns) switches to Z-ORDER bucketing
    (scheme "zorder"): each column is quantized into 256
    equal-frequency cells, cell indexes bit-interleave into a z-value
    (one Arrow-vectorized searchsorted UDF over all cluster columns —
    partitioning.zorder_value_udf), and
    buckets are cut at the z-distribution's quantiles through the same
    range assignment kernel. Every bucket then holds a compact z-range,
    so per-block zone bounds become tight on ALL cluster columns and
    scans prune on any of them (measured 7/128 buckets for a 2-D window
    vs 44/128 single-column range vs 128/128 hashed — BENCH/ROUND5.md).
    Each dimension gets 1/k of the z-bits: prefer the single-column
    range scheme when only one column is ever filtered.

    `layout_from=<dir>` copies an existing snapshot's bucket layout
    (scheme, num_buckets, hot-key salts, range/zorder boundaries)
    instead of deriving one from this input — the two stores become
    bucket-aligned, which is what `operators.join.join_colocated`
    requires for a shuffle-free store-to-store equi-join (Hive's
    "CLUSTERED BY ... INTO n BUCKETS" on both tables). Mutually
    exclusive with cluster_by=; resume validates the existing
    snapshot still matches the donor's layout.

    `commit_every` splits the pending buckets into waves of that size,
    each written AND manifest-committed before the next starts: a job
    killed (even kill -9) mid-run loses only the in-flight wave — its
    output is hidden staged files in a wave dir the manifest never
    registered, which readers never open and sweep_orphan_waves
    reclaims — and resume picks up from the last committed wave. At
    100 TB this bounds recomputation to commit_every buckets instead of
    the whole snapshot; the cost is one write job per wave instead of
    one total (kmers_spark/wavewrite.py: the tasks return their block
    stats, so no job reads a wave back).

    `fail_buckets_over` keeps only buckets < N (test hook: simulates a
    job killed partway so resume can be exercised — FIXTURES.md §4).
    """
    spark = df.sparkSession
    schema = {f.name: selector.spark_type_name(f.dataType) for f in df.schema.fields}
    assert_utc_session(spark, schema)

    # layout_from=<dir>: copy an existing snapshot's bucket layout
    # (scheme, num_buckets, hot-key salt table, range/zorder
    # boundaries) so the two stores become bucket-ALIGNED — the
    # precondition join_colocated verifies (the Hive/Iceberg
    # "CLUSTERED BY ... INTO n BUCKETS" DDL twin). The donor's
    # equal-frequency cuts reflect the DONOR's distribution; a skewed
    # twin keeps correctness and alignment, only block-size balance
    # can differ.
    donor = None
    if layout_from is not None:
        if cluster_by is not None:
            raise ValueError(
                "layout_from= and cluster_by= are mutually exclusive — "
                "the donor snapshot already fixes the layout")
        donor = manifest.load(layout_from)
        if donor is None:
            raise FileNotFoundError(f"layout_from: no manifest in {layout_from}")
        donor_scheme = donor.get("bucket_scheme", partitioning.LEGACY_SCHEME)
        if donor_scheme == partitioning.EXTERNAL_SCHEME:
            raise ValueError(
                "layout_from: donor snapshot was caller-bucketed "
                "(scheme 'external') — it records no reproducible "
                "assignment rule to copy")
        num_buckets = donor["num_buckets"]
        if donor_scheme in (partitioning.RANGE_SCHEME,
                            partitioning.ZORDER_SCHEME):
            cluster_by = donor["cluster_by"]
            d_cols = cluster_by if isinstance(cluster_by, list) else [cluster_by]
            for c in d_cols:
                if c not in schema:
                    raise KeyError(
                        f"layout_from: donor cluster column {c!r} not in "
                        "input schema")
                if schema[c] != donor["schema"].get(c):
                    raise ValueError(
                        f"layout_from: cluster column {c!r} type "
                        f"{schema[c]!r} differs from donor "
                        f"{donor['schema'].get(c)!r} — boundaries are in "
                        "the donor's bound space")

    # cluster_by=[a, b] (2+ columns) switches to the zorder scheme;
    # a 1-element list is the plain range scheme
    zorder_cols: list[str] | None = None
    if isinstance(cluster_by, (list, tuple)):
        cluster_by = list(cluster_by)
        if len(cluster_by) == 0:
            cluster_by = None
        elif len(cluster_by) == 1:
            cluster_by = cluster_by[0]
        else:
            zorder_cols = cluster_by
            cluster_by = None
    if zorder_cols is not None:
        if len(zorder_cols) != len(set(zorder_cols)):
            raise ValueError(f"cluster_by={zorder_cols!r} repeats a column")
        if len(zorder_cols) > partitioning.ZORDER_MAX_COLS:
            raise ValueError(
                f"cluster_by={zorder_cols!r}: zorder supports at most "
                f"{partitioning.ZORDER_MAX_COLS} columns (the interleaved "
                "z-value must fit a signed int64)")
        for c in zorder_cols:
            if c not in schema:
                raise KeyError(
                    f"cluster_by column {c!r} not in input schema")
    if cluster_by is not None and cluster_by not in schema:
        raise KeyError(f"cluster_by column {cluster_by!r} not in input schema")

    if bloom_columns is not None:
        for c in bloom_columns:
            if c not in schema:
                raise KeyError(f"bloom column {c!r} not in input schema")
            if c == key:
                raise ValueError(
                    f"bloom column {c!r} is the key column — the key "
                    "always gets a Bloom sidecar; drop it from bloom_columns"
                )
            if schema[c] not in ("string", "int64"):
                raise ValueError(
                    f"bloom column {c!r} has type {schema[c]!r}; Bloom "
                    "sidecars support string and int64 columns"
                )
        bloom_columns = sorted(set(bloom_columns))

    if ndv_columns is not None:
        for c in ndv_columns:
            if c not in schema:
                raise KeyError(f"ndv column {c!r} not in input schema")
            if schema[c] not in ("string", "int64"):
                raise ValueError(
                    f"ndv column {c!r} has type {schema[c]!r}; distinct "
                    "sketches support string and int64 columns"
                )
        ndv_columns = sorted(set(ndv_columns))

    m = manifest.load(out_dir)
    if m is None or not resume:
        # hot-host detection from a sample: hot keys are, by definition,
        # the ones a 5% sample cannot miss. Range bucketing needs no
        # salting: equal-frequency boundaries bound skew by construction.
        if donor is not None:
            # copy, never resample: alignment needs the donor's exact
            # salt table and cut points, not equivalent ones
            hot = donor.get("hot_keys", {})
            boundaries = donor.get("range_boundaries") \
                if cluster_by is not None else None
            z_cells, z_bounds = (
                (donor["zorder_cells"], donor["zorder_boundaries"])
                if zorder_cols is not None else (None, None)
            )
        else:
            hot = (
                partitioning.detect_hot_keys(df, num_buckets, key,
                                             sample_fraction=0.05)
                if detect_skew and cluster_by is None and zorder_cols is None
                else {}
            )
            boundaries = (
                partitioning.range_boundaries(
                    df, cluster_by, schema[cluster_by], num_buckets
                )
                if cluster_by is not None
                else None
            )
            z_cells, z_bounds = (
                partitioning.zorder_boundaries(
                    df, zorder_cols, [schema[c] for c in zorder_cols],
                    num_buckets,
                )
                if zorder_cols is not None
                else (None, None)
            )

        def create_or_config(cur: dict | None) -> dict:
            if cur is None:
                cur = {
                    "format_version": 2,
                    "snapshot_id": snapshot_id,
                    "schema": schema,
                    # JSON round-trips sort dict keys (manifest files are
                    # dumped sort_keys=True), so the input column ORDER
                    # rides separately; readers reassemble rows in it
                    "columns": list(schema),
                    "key": key,
                    "num_buckets": num_buckets,
                    "seed": 42,
                    "committed_buckets": [],
                    "blocks": {},
                    "wave_dirs": [],
                    # part of the format: how keys map to buckets.
                    # Pre-scheme snapshots hashed regexp-host only
                    # (non-url keys all collapsed to the ""-host
                    # bucket); resume/lookups must reproduce whatever
                    # scheme wrote the committed blocks.
                    "bucket_scheme": (
                        # a layout donor's scheme carries verbatim (a
                        # legacy host_only donor must stay host_only —
                        # the two schemes hash non-url keys differently)
                        donor.get("bucket_scheme", partitioning.LEGACY_SCHEME)
                        if donor is not None
                        else partitioning.RANGE_SCHEME if cluster_by is not None
                        else partitioning.ZORDER_SCHEME
                        if zorder_cols is not None
                        else partitioning.BUCKET_SCHEME
                    ),
                    "created_unix": int(time.time()),
                }
                if cluster_by is not None:
                    cur["cluster_by"] = cluster_by
                    cur["range_boundaries"] = boundaries
                if zorder_cols is not None:
                    cur["cluster_by"] = list(zorder_cols)
                    cur["zorder_cells"] = z_cells
                    cur["zorder_boundaries"] = z_bounds
            elif cur["num_buckets"] != num_buckets or cur["schema"] != schema:
                raise ValueError("existing manifest is incompatible with this job config")
            elif not resume:
                if cur.get("committed_buckets"):
                    # committed blocks were salted with the OLD hot_keys;
                    # silently swapping the salt table would send lookups
                    # to the wrong buckets — a fresh run needs a fresh dir
                    raise ValueError(
                        f"resume=False but {out_dir} already holds committed "
                        "buckets; delete the snapshot dir or resume"
                    )
            cur["hot_keys"] = hot
            cur["codec_overrides"] = codec_overrides or {}
            if not cur.get("committed_buckets"):
                # empty-store reconfig (resume=False path above raised
                # if anything was committed): bloom config may change
                if bloom_columns:
                    cur["bloom_columns"] = bloom_columns
                else:
                    cur.pop("bloom_columns", None)
                if ndv_columns:
                    cur["ndv_columns"] = ndv_columns
                else:
                    cur.pop("ndv_columns", None)
            return cur

        m = manifest.commit(out_dir, create_or_config)
    if m["schema"] != schema:
        # a df missing a snapshot column would write blocks the decoder
        # null-fills (schema evolution's read contract) — silent data
        # loss. Evolution is explicit: manifest.evolve_schema first,
        # then encode the remaining waves with the new column present.
        raise ValueError(
            f"input schema {sorted(schema)} != snapshot schema "
            f"{sorted(m['schema'])}; add columns via manifest.evolve_schema, "
            "then encode with the evolved schema"
        )
    hot = m["hot_keys"]

    if donor is not None:
        # resume under layout_from must hit a snapshot that actually
        # carries the donor's layout — silently encoding new waves
        # under a different salt table / cut list would break the
        # alignment guarantee the caller asked for
        def _layout(x: dict) -> dict:
            return {
                "bucket_scheme": x.get("bucket_scheme",
                                       partitioning.LEGACY_SCHEME),
                "num_buckets": x["num_buckets"],
                "hot_keys": x.get("hot_keys") or {},
                "range_boundaries": x.get("range_boundaries"),
                "zorder_cells": x.get("zorder_cells"),
                "zorder_boundaries": x.get("zorder_boundaries"),
            }

        if _layout(m) != _layout(donor):
            raise ValueError(
                f"layout_from: existing snapshot in {out_dir} has a "
                "different bucket layout than the donor — resume without "
                "layout_from, or encode into a fresh directory")

    m = migrate_legacy_layout(out_dir, m)

    done = set(m["committed_buckets"])
    pending = [b for b in range(num_buckets) if b not in done]
    if fail_buckets_over is not None:
        pending = [b for b in pending if b < fail_buckets_over]
    scheme = m.get("bucket_scheme", partitioning.LEGACY_SCHEME)
    if cluster_by is not None and (
        scheme != partitioning.RANGE_SCHEME or m.get("cluster_by") != cluster_by
    ):
        raise ValueError(
            f"cluster_by={cluster_by!r} but snapshot {out_dir} was created "
            f"with scheme={scheme!r} cluster_by={m.get('cluster_by')!r}; "
            "bucketing is part of the snapshot format"
        )
    if zorder_cols is not None and (
        scheme != partitioning.ZORDER_SCHEME
        or m.get("cluster_by") != zorder_cols
    ):
        raise ValueError(
            f"cluster_by={zorder_cols!r} but snapshot {out_dir} was created "
            f"with scheme={scheme!r} cluster_by={m.get('cluster_by')!r}; "
            "bucketing is part of the snapshot format"
        )
    # bloom config is part of the snapshot format: a resumed wave with
    # different filters would leave the registration lying about
    # coverage. Resume reads the RECORDED config (param omitted is fine).
    eff_bloom_cols = m.get("bloom_columns")
    if bloom_columns is not None and bloom_columns != (eff_bloom_cols or []):
        raise ValueError(
            f"bloom_columns={bloom_columns!r} but snapshot {out_dir} "
            f"records bloom_columns={eff_bloom_cols!r}; the filter set is "
            "part of the snapshot format (re-create or rebuild to change it)"
        )
    # same rule for distinct sketches: partial coverage would make
    # approx_count_distinct decode buckets the caller thought were
    # sketched, silently — the config is pinned at creation
    eff_ndv_cols = m.get("ndv_columns")
    if ndv_columns is not None and ndv_columns != (eff_ndv_cols or []):
        raise ValueError(
            f"ndv_columns={ndv_columns!r} but snapshot {out_dir} records "
            f"ndv_columns={eff_ndv_cols!r}; the sketch set is part of the "
            "snapshot format (re-create or rebuild to change it)"
        )
    if scheme == partitioning.RANGE_SCHEME:
        # boundaries come from the MANIFEST (not this call's sample):
        # resume must re-assign rows exactly as the committed waves did
        bucketed = partitioning.with_bucket_range(
            df, m["cluster_by"], schema[m["cluster_by"]],
            m["range_boundaries"], key=key,
        )
    elif scheme == partitioning.ZORDER_SCHEME:
        zc = m["cluster_by"]
        bucketed = partitioning.with_bucket_zorder(
            df, zc, [schema[c] for c in zc],
            m["zorder_cells"], m["zorder_boundaries"], key=key,
        )
    elif scheme == partitioning.EXTERNAL_SCHEME:
        # DataSource-sink store with caller-assigned buckets: encode
        # cannot reproduce a rule it never saw, so resuming here would
        # scatter the same keys into different buckets than the
        # committed waves — append through the sink instead
        raise ValueError(
            f"snapshot {out_dir} was bucketed externally (DataSource sink "
            "without a declared bucketScheme); encode_table cannot resume "
            "it — keep appending via df.write.format('kmers')"
        )
    else:
        bucketed = plan_buckets(df, num_buckets, hot, key, scheme=scheme)

    if commit_every:
        waves = [pending[i : i + commit_every] for i in range(0, len(pending), commit_every)]
    else:
        waves = [pending] if pending else []

    sweep_orphan_waves(out_dir)

    # multi-wave runs would otherwise re-scan + re-hash the WHOLE input
    # once per wave just to keep a few buckets; persist the bucketed rows
    # once (memory-and-disk) and release after the last wave
    persisted = len(waves) > 1
    if persisted:
        bucketed = bucketed.persist()
    try:
        for wave in waves:
            # full-snapshot wave needs no filter (a 10^5-literal isin
            # would bloat codegen); partial waves are small
            wave_df = bucketed if len(wave) == num_buckets else bucketed.filter(
                F.col("bucket").isin(wave)
            )
            sort_by = partitioning.block_sort_by(scheme, m.get("cluster_by"),
                                                 key)
            # Each wave lands in its own directory and only becomes
            # visible when the manifest commit below registers it
            # (Iceberg manifest-list discipline): a crash between write
            # and commit leaves an orphan dir that readers never see.
            wave_dir = f"{_blocks_path(out_dir)}/{_wave_name()}"
            encode = wavewrite.with_blooms(
                make_encode_fn_arrow(schema, key, codec_overrides,
                                     sort_by=sort_by, ndv_cols=eff_ndv_cols),
                schema, key, eff_bloom_cols)

            def encode_in_task(table):
                arrowcodecs.pin_worker_threads()
                return encode(table)

            blocks = wave_df.groupBy("bucket").applyInArrow(
                encode_in_task, BLOCK_SCHEMA)
            stats, key_ranges, bloom_buckets, bloom_cols = \
                wavewrite.write_wave(blocks, wave_dir, schema, key)
            # hash-empty buckets commit too (else they stay pending
            # forever and every resume rewrites nothing)
            stats = {**{b: [] for b in wave}, **stats}
            m = manifest.commit_buckets(
                out_dir, stats, wave_dir=_wave_rel(wave_dir, out_dir),
                key_ranges=key_ranges, bloom_buckets=bloom_buckets,
                bloom_cols=bloom_cols,
            )
    finally:
        if persisted:
            bucketed.unpersist()
    return m


def migrate_legacy_layout(out_dir: str, m: dict) -> dict:
    """Pre-wave snapshots hold flat part files directly under blocks/.
    Once a wave dir is registered, readers resolve paths from
    manifest["wave_dirs"] only — so before the first new wave commits,
    move the legacy flat files into a registered w_legacy dir (their
    data would otherwise become invisible). Local-fs rename; no-op for
    wave-layout or empty stores."""
    import os
    import shutil

    if "wave_dirs" in m:
        return m
    m = manifest.load(out_dir) or m
    if "wave_dirs" in m:  # another process migrated first
        return m
    root = _blocks_path(out_dir)
    moved = False
    if os.path.isdir(root):
        flat = [n for n in os.listdir(root)
                if not n.startswith(("w_", "_", ".")) and n != "w_legacy"]
        if flat:
            legacy = os.path.join(root, "w_legacy")
            os.makedirs(legacy, exist_ok=True)
            for n in flat:
                try:
                    shutil.move(os.path.join(root, n), os.path.join(legacy, n))
                except FileNotFoundError:
                    pass  # a concurrent migrator moved it first
            moved = True

    def mutate(cur: dict | None) -> dict:
        if cur is None:
            raise FileNotFoundError(f"no manifest in {out_dir}")
        if "wave_dirs" in cur:  # lost the race to another migrator
            return cur
        cur["wave_dirs"] = ["blocks/w_legacy"] if moved else []
        if moved:
            cur.setdefault("wave_buckets", {})["blocks/w_legacy"] = sorted(
                cur["committed_buckets"]
            )
        return cur

    return manifest.commit(out_dir, mutate)


def _blocks_path(out_dir: str) -> str:
    return f"{out_dir}/blocks"


def _wave_name() -> str:
    import uuid

    return f"w_{uuid.uuid4().hex[:12]}"


def _wave_rel(wave_dir: str, out_dir: str) -> str:
    return wave_dir[len(out_dir) + 1 :]  # "blocks/w_<id>" — manifest stays relocatable


def committed_wave_paths(out_dir: str, m: dict | None = None,
                         buckets: list[int] | None = None) -> list[str]:
    """Data dirs of committed waves; with `buckets`, only the waves that
    hold at least one of them (manifest-level file pruning — a point
    lookup on a 10^5-bucket snapshot written with commit_every=K reads
    ~1 wave dir instead of 10^5/K)."""
    m = m or manifest.load(out_dir)
    if m is None:
        raise FileNotFoundError(f"no manifest in {out_dir}")
    if "wave_dirs" not in m:
        return [_blocks_path(out_dir)]  # pre-wave snapshots: flat layout
    dirs = m["wave_dirs"]
    if buckets is not None:
        want = set(buckets)
        wb = m.get("wave_buckets", {})
        # a wave without a recorded bucket list (legacy) must stay in
        dirs = [d for d in dirs if d not in wb or want.intersection(wb[d])]
    return [f"{out_dir}/{d}" for d in dirs]


SWEEP_GRACE_SEC = 1800  # in-flight waves younger than this are never swept


def sweep_orphan_waves(out_dir: str, grace_sec: float = SWEEP_GRACE_SEC) -> None:
    """Delete wave dirs a crashed run wrote but never committed (they
    are invisible to readers either way; sweeping reclaims space).

    Two guards against deleting live data (ADVICE r2): the committed
    set is re-loaded from the LATEST manifest right before sweeping (a
    wave committed by a concurrent encode after this job loaded its
    snapshot is not an orphan), and dirs younger than `grace_sec` are
    left alone (a concurrent encode's in-flight, pre-commit wave looks
    unregistered but is about to be registered; its dir mtime is fresh
    while it's being written). Local-fs implementation — on an object
    store use its listing API."""
    import os
    import shutil

    root = _blocks_path(out_dir)
    if not os.path.isdir(root):
        return
    m = manifest.load(out_dir) or {}
    committed = set(m.get("wave_dirs", []))
    cutoff = time.time() - grace_sec
    for name in os.listdir(root):
        if not name.startswith("w_") or f"blocks/{name}" in committed:
            continue
        p = os.path.join(root, name)
        try:
            if os.path.getmtime(p) > cutoff:
                continue
        except OSError:
            continue  # vanished concurrently
        shutil.rmtree(p, ignore_errors=True)
    # `.bloomstage-*` dirs left by writers older than the staged-file
    # protocol (kmers_spark/wavewrite.py) follow the same grace rule
    bloomkern.sweep_stages(
        root, {d.rsplit("/", 1)[-1] for d in committed}, grace_sec
    )


def read_blocks(spark: SparkSession, out_dir: str) -> DataFrame:
    """Block rows of all COMMITTED waves (the manifest is the source of
    truth for what exists — uncommitted dirs are never read)."""
    paths = committed_wave_paths(out_dir)
    if not paths:
        return spark.createDataFrame([], BLOCK_SCHEMA)
    return spark.read.parquet(*paths)


def compact_waves(spark: SparkSession, out_dir: str) -> dict:
    """Maintenance: rewrite all committed waves into ONE wave dir and
    atomically swap the manifest's wave list (Iceberg rewrite-data-files
    semantics). Fine-grained `commit_every` checkpointing accumulates
    many small dirs/files; compaction restores large sequential reads
    for decode. Payloads are moved verbatim (no re-encode): the
    operation is a parquet rewrite, crash-safe at every step —
      * crash mid-write: the new dir is unregistered, swept next run;
      * crash after the manifest swap: old dirs are unregistered and
        swept next run; readers only ever saw one consistent list.
    Safe to run concurrently with an active encode on the same
    snapshot: the manifest swap is a CAS commit (manifest.commit) whose
    mutation re-reads the latest manifest on every attempt — waves
    committed during the rewrite stay registered, and a lost race
    retries against fresh state (Iceberg's validate-and-retry).

    Returns the updated manifest."""
    from .rewrite import commit_rewrite  # rewrite imports this module

    m = manifest.load(out_dir)
    if m is None:
        raise FileNotFoundError(f"no manifest in {out_dir}")
    if m.get("streamed"):
        # a streamed store holds several GENERATIONS of a bucket, one
        # per wave file; this rewrite packs a bucket's rows into one
        # file, which collapses generations into duplicate (bucket,
        # column) block rows the readers reject. Stream compaction
        # needs a re-encode (decode generations -> merge -> encode):
        # operators/compact.compact_stream, which also keeps running
        # stream readers' offsets valid via stream_wave_base.
        raise ValueError(
            f"{out_dir} is a streamed (multi-generation) snapshot; "
            "compact_stream merges its generations in place "
            "(compact_waves only supports batch snapshots)"
        )
    m = migrate_legacy_layout(out_dir, m)  # legacy flat stores compact too
    sweep_orphan_waves(out_dir)  # incl. leftovers of a crashed compact
    old = m.get("wave_dirs", [])
    if len(old) <= 1:
        return m
    blocks = read_blocks(spark, out_dir)
    new_dir = f"{_blocks_path(out_dir)}/{_wave_name()}"
    # repartition on bucket: every bucket's rows land in ONE output
    # file, preserving the whole-bucket-per-scan-partition contract
    # decode_colocated depends on (a plain rewrite would split block
    # files > maxPartitionBytes at row-group boundaries)
    wavewrite.write_wave(blocks.repartition(F.col("bucket")), new_dir,
                         manifest.ordered_schema(m), m["key"])
    # payloads moved verbatim (key sets AND values unchanged): every
    # retired stats entry and Bloom filter stays exact
    return commit_rewrite(out_dir, m, old, new_dir)


def rebuild_snapshot(spark: SparkSession, src_dir: str, dst_dir: str, *,
                     num_buckets: int | None = None,
                     cluster_by: str | None = None,
                     codec_overrides: dict[str, str] | None = None,
                     commit_every: int | None = None,
                     bloom_columns: list[str] | None = None,
                     ndv_columns: list[str] | None = None) -> dict:
    """Maintenance: decode `src_dir` and encode it into a FRESH batch
    snapshot at `dst_dir` (Iceberg rewrite-with-transform, not the
    payload-verbatim compact_waves). This is:

      * the streamed-store compactor — a sink-appended store holds one
        generation per micro-batch wave; the rebuild merges them into
        one block per (bucket, column), after which compact_waves and
        the committed-once resume protocol apply again;
      * the re-clustering tool — rebuild with cluster_by= converts a
        hash-bucketed store into a range-bucketed one (zone maps go
        from inert to disjoint on the cluster column) without touching
        the source;
      * a codec migration path (codec_overrides= re-encodes columns).

    The source stays readable throughout (the rebuild only reads it);
    cutover is the caller renaming/retargeting paths. Crash-safe like
    any encode: dst's manifest commits per wave, resume completes it.

    Format properties are INHERITED unless overridden: a source's
    codec_overrides and (for range-bucketed sources) cluster_by carry
    into the rebuilt snapshot — a compaction run must not silently
    revert a words_seg column to the auto-selector or de-cluster a
    range store. Pass explicit values to change them.

    Registered index artifacts (m["indexes"]) are intentionally NOT
    carried: they pin the SOURCE's data (built_rows/built_at_version,
    functions/ann.py) and a rebuilt layout invalidates that pin —
    rebuild them against the destination (build_ivf_index retrains on
    first call).
    """
    from . import partitioning
    from .decode import decode_colocated

    m_src = manifest.load(src_dir)
    if m_src is None:
        raise FileNotFoundError(f"no manifest in {src_dir}")
    if os.path.realpath(src_dir) == os.path.realpath(dst_dir):
        raise ValueError("rebuild requires a fresh destination dir")
    if codec_overrides is None:
        codec_overrides = m_src.get("codec_overrides") or None
    if cluster_by is None and (
        m_src.get("bucket_scheme") in (partitioning.RANGE_SCHEME,
                                       partitioning.ZORDER_SCHEME)
    ):
        cluster_by = m_src.get("cluster_by")
    if bloom_columns is None:
        # bloom_columns= is snapshot config like the two above: a
        # compaction must not silently drop the column filters a
        # source's scans rely on
        bloom_columns = m_src.get("bloom_columns") or None
    if ndv_columns is None:
        # distinct-sketch config inherits for the same reason
        ndv_columns = m_src.get("ndv_columns") or None
    df = decode_colocated(spark, src_dir)
    return encode_table(
        df, dst_dir,
        key=m_src["key"],
        num_buckets=num_buckets or m_src["num_buckets"],
        codec_overrides=codec_overrides,
        snapshot_id=f"{m_src.get('snapshot_id', 'snap')}-rebuilt",
        detect_skew=cluster_by is None,
        cluster_by=cluster_by,
        commit_every=commit_every,
        bloom_columns=bloom_columns,
        ndv_columns=ndv_columns,
    )

