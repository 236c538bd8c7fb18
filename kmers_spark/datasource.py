"""Spark Python DataSource over the compressed block store — the store
as a first-class `spark.read` table with Catalyst-driven pruning.

    spark.dataSource.register(KmersDataSource)
    df = spark.read.format("kmers").load("/path/to/snapshot")
    df.filter("lang = 'pl' AND warc_ts >= '2024-01-10'").select("url")

Catalyst hands the reader its column projection (reader(schema)) and
its AND-of-filters (pushFilters). Both drive the same machinery
scan_table uses, now *inside Spark's planner*:

  1. zone-map bucket pruning from the manifest (fewer input
     partitions — a predicate outside every bucket's bounds plans an
     EMPTY scan);
  2. wave-dir pruning per surviving bucket;
  3. executor-side: block rows are fetched with pyarrow.parquet
     (bucket == b row-group predicate — no nested SparkSession), the
     kernel mask late-materializes, segmented codecs skip segments;
  4. only projected columns decode (filter columns decode for the
     mask, then drop).

Every filter is returned to Spark for residual evaluation: bounds are
block-granular and string bounds truncated, so the pushdown is a
performance contract, not a correctness one — semantics stay exactly
Spark's.

One partition per surviving bucket: at 10^5 buckets that is 10^5
independent tasks, each reading only its own wave files — the same
parallelism contract as the decode jobs.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

_OPS = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
    In: "in",
}

from .manifest import SPARK_DDL_TYPES as _SPARK_TYPE


def plan_bucket_partitions(path: str, m: dict, buckets, cols: list[str],
                           blocks: dict | None = None,
                           buckets_per_task: int = 1):
    """InputPartitions of (bucket list, wave paths, {bucket: allowed-
    missing columns}). The wave map is inverted ONCE (O(buckets +
    wave_dirs), not O(buckets × wave_dirs) — at 10^5 buckets and 10^3
    waves the difference is the whole planning budget); the per-bucket
    missing sets ride in the partition so executors enforce the same
    corruption-vs-evolution distinction as the other readers without
    re-reading the manifest.

    `buckets_per_task` > 1 coalesces adjacent buckets into one task
    (ceil(buckets/N) partitions): a 10^5-bucket store need not spawn
    10^5 Python workers — each task still reads with per-bucket
    parquet predicates (one isin over its chunk) and decodes bucket by
    bucket, so memory stays bounded at one bucket's blocks plus the
    fetched chunk. Buckets are chunked in sorted order, which keeps a
    range-bucketed (cluster_by) store's tasks range-contiguous."""
    from . import manifest as mf

    if buckets_per_task < 1:
        raise ValueError("buckets_per_task must be >= 1")
    wb = m.get("wave_buckets", {})
    wave_dirs = m.get("wave_dirs")
    if wave_dirs is None:
        by_bucket = {int(b): [f"{path}/blocks"] for b in buckets}
    else:
        legacy = [d for d in wave_dirs if d not in wb]  # no bucket list: all keep
        by_bucket = {int(b): [f"{path}/{d}" for d in legacy] for b in buckets}
        want = {int(b) for b in buckets}
        for d in wave_dirs:
            for b in wb.get(d, ()):
                if int(b) in want:
                    by_bucket[int(b)].append(f"{path}/{d}")
    if blocks is None and m.get("evolved"):
        blocks = mf.block_stats(path, m)
    missing = (
        mf.missing_columns(m, cols, blocks=blocks) if m.get("evolved") else {}
    )
    live = [(b, paths) for b, paths in sorted(by_bucket.items()) if paths]
    parts = []
    for i in range(0, len(live), buckets_per_task):
        chunk = live[i : i + buckets_per_task]
        bs = [b for b, _p in chunk]
        paths = sorted({p for _b, ps in chunk for p in ps})
        parts.append(InputPartition((
            bs, paths, {b: sorted(missing.get(b, ())) for b in bs}
        )))
    if not parts:
        # every bucket pruned (zone bounds / Bloom filters): Spark's
        # Python DataSource requires >= 1 partition — ship one empty
        # one (read() yields nothing for an empty path list)
        parts.append(InputPartition(([], [], {})))
    return parts


class KmersDataSource(DataSource):
    """format("kmers"): path = snapshot dir; option("version", N) time-travels."""

    @classmethod
    def name(cls) -> str:
        return "kmers"

    def _manifest(self) -> dict:
        from . import manifest

        path = self.options.get("path")
        if not path:
            raise ValueError("kmers source needs a snapshot path: .load('/snap')")
        version = self.options.get("version")
        m = manifest.load(path, version=int(version) if version else None)
        if m is None:
            raise FileNotFoundError(f"no manifest in {path}")
        return m

    def schema(self) -> str:
        from . import manifest

        m = self._manifest()
        return ", ".join(
            f"`{c}` {_SPARK_TYPE[t]}"
            for c, t in manifest.ordered_schema(m).items()
        )

    def reader(self, schema) -> "KmersReader":
        return KmersReader(self.options, schema, self._manifest())


class KmersReader(DataSourceReader):
    def __init__(self, options, schema, m: dict):
        from . import manifest

        self.path = options.get("path")
        self.m = m
        self.full_schema = manifest.ordered_schema(m)
        self.projected = [f.name for f in schema.fields]
        self.triples: list[tuple] = []  # (col, op, value) we act on
        # option("bucketsPerTask", N): coalesce N buckets per task so a
        # 10^5-bucket store plans ceil/N partitions (options arrive
        # lower-cased through the Python DS API)
        raw = (options.get("bucketspertask")
               or options.get("buckets_per_task") or "1")
        self.buckets_per_task = max(1, int(raw))

    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        from . import zonemap

        try:
            from pyspark.sql.datasource import StringStartsWith
        except ImportError:  # pragma: no cover
            StringStartsWith = ()

        for f in filters:
            # col LIKE 'prefix%' (a crawl-query staple: url prefixes)
            # translates to the range [prefix, prefix-with-last-char-
            # incremented) — zone bounds prune it and the kernel range-
            # filters it; Spark still applies the exact LIKE on top
            if StringStartsWith and isinstance(f, StringStartsWith):
                attr = f.attribute
                if (
                    len(attr) == 1
                    and self.full_schema.get(attr[0]) == "string"
                    and isinstance(f.value, str)
                    and f.value
                ):
                    # the shared exact rewrite (zonemap.prefix_filters):
                    # [prefix, prefix-with-last-char-incremented)
                    self.triples.extend(
                        zonemap.prefix_filters(attr[0], f.value))
                yield f
                continue
            op = _OPS.get(type(f))
            attr = getattr(f, "attribute", None)
            if (
                op is not None
                and attr is not None
                and len(attr) == 1
                and self.full_schema.get(attr[0]) in zonemap.PRUNABLE
            ):
                value = list(f.value) if op == "in" else f.value
                # NULL literals never match in our kernels but would
                # crash normalization — leave them entirely to Spark
                has_null = (
                    any(v is None for v in value) if op == "in" else value is None
                )
                if not has_null:
                    self.triples.append((attr[0], op, value))
            # EVERY filter goes back to Spark: ours are used for pruning
            # and kernel-side late materialization, Spark re-evaluates
            # exactly (block-granular bounds, truncated string bounds)
            yield f

    def _norm(self):
        from . import zonemap

        if not self.triples:
            return None
        return zonemap.normalize_filters(self.triples, self.full_schema)

    def partitions(self) -> list[InputPartition]:
        from . import zonemap

        from . import manifest as mf

        norm = self._norm()
        blocks = None
        if norm or self.m.get("evolved"):
            blocks = mf.block_stats(self.path, self.m)  # parsed ONCE per plan
        buckets = (
            zonemap.prune_buckets(self.m, norm, blocks=blocks)
            if norm
            else list(self.m.get("committed_buckets", []))
        )
        if norm:
            # column Bloom sidecars (encode bloom_columns=): driver-side
            # equality-probe pruning, same layer scan_table applies
            from .operators.decode import bloom_prune_filters

            buckets = bloom_prune_filters(self.path, self.m, norm, buckets)
        return plan_bucket_partitions(self.path, self.m, buckets,
                                      list(self.full_schema), blocks=blocks,
                                      buckets_per_task=self.buckets_per_task)

    def read(self, partition: InputPartition) -> Iterator:
        import pyarrow.dataset as pads

        from . import blockdecode

        vals = partition.value
        bucket_list, paths, miss_map = vals[0], vals[1], vals[2]
        if not paths:  # the all-pruned placeholder partition
            return iter(())
        # stream partitions carry a 4th element with the manifest bits
        # read() needs (streamed flag, key, per-wave evolution
        # allowance): the STREAM reader instance is pickled to
        # executors when the query starts — before partitions() ever
        # runs — so reader state set at planning time never arrives;
        # only the partition payload does. Without this, a catch-up
        # partition holding >=2 generations of a bucket would take the
        # batch (whole-dataset) path and die on duplicate block rows.
        aux = vals[3] if len(vals) > 3 else None
        m = self.m if isinstance(self.m, dict) and self.m else None
        streamed = aux["streamed"] if aux is not None \
            else bool(m and m.get("streamed"))
        miss_map = {int(b): set(v) for b, v in miss_map.items()}
        # column pruning reaches the block-row fetch: only projected +
        # filter columns' payloads are read (plus the key column as a
        # row-count anchor when everything needed is evolution-missing
        # in some bucket — the key always has a block)
        needed = set(self.projected) | {c for c, _op, _v in self.triples}
        key = aux.get("key") if aux is not None else (m.get("key") if m else None)
        # key column as a row-count anchor ONLY for the buckets whose
        # whole projection is evolution-missing — a coalesced chunk must
        # not fetch the key payload for its other 99 buckets
        anchor_buckets = [
            b for b, miss in miss_map.items() if key and not (needed - miss)
        ]
        if anchor_buckets:
            needed.add(key)
        # each wave path is a DIRECTORY of part files; a list of dirs
        # needs a union of per-dir datasets
        dataset = (
            pads.dataset(paths[0], format="parquet")
            if len(paths) == 1
            else pads.dataset([pads.dataset(p, format="parquet") for p in paths])
        )
        base_cols = sorted(needed - {key}) if (
            anchor_buckets and key not in self.projected
            and all(key != c for c, _op, _v in self.triples)
        ) else sorted(needed)
        pred = (pads.field("bucket").isin(list(bucket_list))
                & pads.field("column").isin(base_cols))
        if anchor_buckets and key not in base_cols:
            pred = pred | (pads.field("bucket").isin(anchor_buckets)
                           & (pads.field("column") == key))
        # the integrity check below must expect the key only where it
        # was actually fetched (the anchor buckets)
        base_needed = set(base_cols)
        anchor_set = set(anchor_buckets)
        if streamed:
            # streamed store: a bucket holds one GENERATION per wave
            # file — decode each parquet fragment (= one file = whole
            # buckets of one generation) independently; rows union.
            # Peak task memory is therefore ONE generation's bucket
            # blocks however many generations the partition carries
            # (the stream reader's unbounded catch-up rides on this).
            # The fragment's path names its wave, so the evolution
            # allowance applies per GENERATION: only columns the wave
            # predates may null-fill, anything else missing raises
            from . import manifest as mf

            gen_allow = aux["gen_allow"] if aux is not None \
                else mf.wave_allowance(self.m, list(self.full_schema))
            if gen_allow is not None:
                gen_allow = {w: set(v) for w, v in gen_allow.items()}
            for frag in dataset.get_fragments():
                fmiss = miss_map
                if gen_allow is not None:
                    allow = gen_allow.get(blockdecode.wave_of(frag.path), set())
                    fmiss = {b: allow for b in bucket_list}
                tbl = frag.to_table(filter=pred, columns=blockdecode.FETCH)
                yield from self._decode_block_table(tbl, fmiss, base_needed,
                                                    key, anchor_set)
            return
        tbl = dataset.to_table(filter=pred, columns=blockdecode.FETCH)
        yield from self._decode_block_table(tbl, miss_map, base_needed,
                                            key, anchor_set)

    def _decode_block_table(self, tbl, miss_map: dict, base_needed: set,
                            anchor_key=None, anchor_set=frozenset()) -> Iterator:
        from . import blockdecode

        norm = self._norm()
        # decode bucket by bucket: the coalesced task's working set stays
        # one bucket's decoded columns at a time
        for bucket, rows in blockdecode.split_rows(tbl):
            # the kernel expects the key only where it was fetched as
            # the row-count anchor
            needed = base_needed | ({anchor_key} if bucket in anchor_set else set())
            schema = {c: t for c, t in self.full_schema.items() if c in needed}
            table = blockdecode.decode_bucket(
                rows, schema, norm, miss_map.get(bucket, set()), self.projected
            )
            if table.num_rows:
                yield from table.to_batches()


from pyspark.sql.datasource import DataSourceStreamReader


class KmersStreamReader(DataSourceStreamReader):
    """spark.readStream.format("kmers"): the store as a native
    Structured Streaming source. The offset is the SET of committed
    buckets — monotone (buckets commit once, never uncommit) and
    compaction-safe (a compacted rewrite registers new wave dirs but
    no new buckets, so nothing re-emits; the ticker-based
    decode_stream needs explicit bucket bookkeeping for the same
    guarantee — here Spark's own offset log carries it). Each
    micro-batch plans one partition per newly committed bucket,
    reading that bucket's wave files with the batch kernels; Spark's
    checkpoint + offset commit give end-to-end exactly-once to
    transactional sinks."""

    def __init__(self, options, schema):
        from . import manifest

        self.path = options.get("path")
        if not self.path:
            raise ValueError("kmers stream needs a snapshot path: .load('/snap')")
        m = manifest.load(self.path)
        self.full_schema = manifest.ordered_schema(m) if m else {}
        self.projected = [f.name for f in schema.fields]

    def initialOffset(self) -> dict:  # noqa: N802
        return {"buckets": []}

    def latestOffset(self) -> dict:  # noqa: N802
        from . import manifest

        m = manifest.load(self.path)
        done = sorted(m.get("committed_buckets", [])) if m else []
        if m and m.get("streamed"):
            # sink-appended stores add GENERATIONS to already-committed
            # buckets: the bucket set alone never advances, so the
            # offset also carries the (append-only) wave count.
            # No maxWavesPerBatch admission control: this API gives
            # latestOffset() no start offset, so any rate cap would
            # have to live in reader-instance memory and silently
            # regress offsets across a driver restart (duplicates).
            # A catch-up batch is big but SAFE: one partition per
            # (bucket, new waves), each bounded at a bucket's blocks.
            # The count is in GENERATION-SEQUENCE space (survives
            # compact_stream, which merges old generations and advances
            # stream_wave_base — manifest.stream_seq_end).
            return {"buckets": done, "waves": manifest.stream_seq_end(m)}
        return {"buckets": done}

    def partitions(self, start: dict, end: dict):
        from . import manifest

        m = manifest.load(self.path)
        if not self.full_schema and m:
            self.full_schema = manifest.ordered_schema(m)
        self._m = m  # pickled to executors with the reader
        if "waves" in end:
            if start.get("buckets") and "waves" not in start:
                raise ValueError(
                    "this checkpoint predates generation-aware offsets "
                    "for streamed kmers stores; restart the read with a "
                    "fresh checkpoint (bucket-set offsets cannot say "
                    "which generations were already emitted)"
                )
            # every row added between the offsets lives in the wave
            # dirs appended at sequences [start.waves, end.waves) —
            # manifest.stream_dirs_between maps sequence numbers to
            # live dirs across compact_stream rewrites: a virgin
            # checkpoint (no committed batch yet) reads merged history
            # + tail exactly once, a checkpoint at/after the
            # compaction watermark slices the surviving tail, and one
            # strictly inside the merged range raises (an exact
            # generation slice no longer exists).
            virgin = "waves" not in start and not start.get("buckets")
            s0 = None if virgin else int(start.get("waves", 0))
            e0 = int(end["waves"])
            new_dirs = manifest.stream_dirs_between(m, s0, e0)
            wb = m.get("wave_buckets", {})
            missing = manifest.missing_columns(m, list(self.full_schema))
            gen_allow = manifest.wave_allowance(m, list(self.full_schema))
            by_bucket: dict[int, list[str]] = {}
            for d in new_dirs:
                for b in wb.get(d, ()):
                    by_bucket.setdefault(int(b), []).append(f"{self.path}/{d}")
            if not by_bucket:
                return [InputPartition((None, [], {}))]
            # the 4th tuple element ships the manifest bits read() needs:
            # this reader instance was pickled to executors at query
            # start, BEFORE partitions() ran — state set here never
            # reaches read(), only the partition payload does
            new_names = {d.rsplit("/", 1)[-1] for d in new_dirs}
            aux = {
                "streamed": bool(m.get("streamed")),
                "key": m.get("key"),
                "gen_allow": (
                    {w: sorted(v) for w, v in gen_allow.items()
                     if w in new_names}
                    if gen_allow is not None else None
                ),
            }
            return [
                InputPartition((
                    [b], sorted(paths), {b: sorted(missing.get(b, ()))}, aux
                ))
                for b, paths in sorted(by_bucket.items())
            ]
        new = sorted(set(end.get("buckets", [])) - set(start.get("buckets", [])))
        if not new:
            # Spark requires >= 1 partition per batch; emit an empty marker
            return [InputPartition((None, [], {}))]
        parts = plan_bucket_partitions(self.path, m, new, list(self.full_schema))
        aux = {"streamed": False, "key": m.get("key"), "gen_allow": None}
        return [InputPartition((*p.value, aux)) for p in parts]

    def commit(self, end: dict) -> None:
        pass  # nothing to clean: the offset log is Spark's

    def stop(self) -> None:
        pass

    def read(self, partition: InputPartition):
        bucket = partition.value[0]
        if bucket is None:
            return iter(())
        reader = KmersReader.__new__(KmersReader)
        reader.path = self.path
        reader.full_schema = self.full_schema
        reader.projected = self.projected
        reader.triples = []
        reader.m = getattr(self, "_m", None) or {}
        return reader.read(partition)


def _stream_reader(self, schema):
    return KmersStreamReader(self.options, schema)


KmersDataSource.streamReader = _stream_reader


def _declared_scheme(options) -> str | None:
    """.option("bucketScheme", ...): the caller's DECLARATION of which
    rule bucketed the DataFrame (e.g. "host_or_key" after with_bucket).
    Unset -> None, and the sink records "external" so lookups never
    trust a hash rule the writer didn't verify."""
    from .operators import partitioning

    raw = options.get("bucketscheme") or options.get("bucket_scheme")
    if raw is None:
        return None
    allowed = {partitioning.BUCKET_SCHEME, partitioning.LEGACY_SCHEME,
               partitioning.EXTERNAL_SCHEME}
    if raw not in allowed:
        raise ValueError(
            f"bucketScheme={raw!r} not in {sorted(allowed)} (range layouts "
            "must be created by encode_table(cluster_by=...), which records "
            "their boundaries)"
        )
    return raw


def _parse_bloom_columns(options, table_schema: dict, key: str,
                         path: str) -> list[str] | None:
    """.option("bloomColumns", "a,b"): build per-bucket column Bloom
    sidecars (kernels/bloom.py) in the sink's encode pass. Unset ->
    inherit the snapshot's recorded bloom_columns (a sink appending to
    a filtered store must not silently create coverage gaps); no
    snapshot -> none."""
    raw = options.get("bloomcolumns") or options.get("bloom_columns")
    if not raw:
        from . import manifest

        m = manifest.load(path)
        return (m or {}).get("bloom_columns") or None
    cols = sorted({c.strip() for c in raw.split(",") if c.strip()})
    for c in cols:
        if c not in table_schema:
            raise ValueError(
                f"bloomColumns column {c!r} not in the written columns")
        if c == key:
            raise ValueError(
                f"bloomColumns column {c!r} is the key column — the key "
                "always gets a Bloom sidecar")
        if table_schema[c] not in ("string", "int64"):
            raise ValueError(
                f"bloomColumns column {c!r} has type {table_schema[c]!r}; "
                "Bloom sidecars support string and int64 columns")
    from . import manifest

    m = manifest.load(path)
    recorded = (m or {}).get("bloom_columns") or []
    if m is not None and cols != recorded:
        # snapshot-format pinning, same rule as encode_table: a sink
        # writing a DIFFERENT filter set would create per-generation
        # coverage gaps the recorded config silently lies about
        raise ValueError(
            f"bloomColumns={cols!r} but snapshot {path} records "
            f"bloom_columns={recorded!r}; the filter set is part of the "
            "snapshot format (omit the option to inherit, or rebuild)")
    return cols


def _parse_ndv_columns(options, table_schema: dict,
                       path: str) -> list[str] | None:
    """.option("ndvColumns", "a,b"): record per-block HLL distinct
    sketches (kernels/sketch.py) in the sink's encode pass —
    agg_table's approx_count_distinct then runs stats-only over sink
    stores, including streamed generations (register union is
    overlap-insensitive). Unset -> inherit the snapshot's recorded
    ndv_columns (appends must not create coverage gaps that silently
    demote the aggregate to a decode)."""
    from . import manifest

    raw = options.get("ndvcolumns") or options.get("ndv_columns")
    if not raw:
        m = manifest.load(path)
        return (m or {}).get("ndv_columns") or None
    cols = sorted({c.strip() for c in raw.split(",") if c.strip()})
    for c in cols:
        if c not in table_schema:
            raise ValueError(
                f"ndvColumns column {c!r} not in the written columns")
        if table_schema[c] not in ("string", "int64"):
            raise ValueError(
                f"ndvColumns column {c!r} has type {table_schema[c]!r}; "
                "distinct sketches support string and int64 columns")
    m = manifest.load(path)
    recorded = (m or {}).get("ndv_columns") or []
    if m is not None and cols != recorded:
        # pinning, same rationale as encode_table's guard: partial
        # sketch coverage silently demotes approx_count_distinct from
        # stats-only to a decode
        raise ValueError(
            f"ndvColumns={cols!r} but snapshot {path} records "
            f"ndv_columns={recorded!r}; the sketch set is part of the "
            "snapshot format (omit the option to inherit, or rebuild)")
    return cols


def _writer(options, schema, overwrite: bool) -> "KmersWriter":
    from . import selector

    path = options.get("path")
    if not path:
        raise ValueError("kmers sink needs a snapshot path: .save('/snap')")
    names = [f.name for f in schema.fields]
    if "bucket" not in names:
        raise ValueError(
            "kmers sink requires a `bucket` int column (assign with "
            "kmers_spark.operators.partitioning.with_bucket, then "
            "repartition('bucket') so a bucket never spans partitions)"
        )
    table_schema = {
        f.name: selector.spark_type_name(f.dataType)
        for f in schema.fields
        if f.name != "bucket"
    }
    key = options.get("key", "url")
    if key not in table_schema:
        raise ValueError(f"key column {key!r} not in the written columns")
    overrides = {
        k[len("codec."):]: v for k, v in options.items() if k.startswith("codec.")
    }
    import uuid

    return KmersWriter(
        path=path,
        key=key,
        num_buckets=int(options.get("numbuckets", options.get("numBuckets", 0)) or 0),
        table_schema=table_schema,
        overwrite=overwrite,
        codec_overrides=overrides or None,
        wave_name=f"w_{uuid.uuid4().hex[:12]}",
        snapshot_id=options.get("snapshot_id", "snap-ds"),
        bucket_scheme=_declared_scheme(options),
        bloom_columns=_parse_bloom_columns(options, table_schema, key, path),
        ndv_columns=_parse_ndv_columns(options, table_schema, path),
    )


try:  # writer API: Spark 4.0+
    from pyspark.sql.datasource import DataSourceArrowWriter

    def _encode_to_staged(iterator, table_schema, key, codec_overrides,
                          staging_dir: str, bloom_cols=None, ndv_cols=None):
        """Task side of both sinks (batch + stream): encode this
        partition's whole buckets and stage them through the write
        protocol (kmers_spark/wavewrite.py) as ONE hidden parquet file
        under `staging_dir`; the driver's commit publishes only the
        files of successful attempts."""
        import pyarrow as pa
        import pyarrow.compute as pc

        from . import arrowcodecs, wavewrite
        from .operators.encode import make_encode_fn_arrow

        arrowcodecs.pin_worker_threads()
        fn = wavewrite.with_blooms(
            make_encode_fn_arrow(table_schema, key, codec_overrides,
                                 ndv_cols=ndv_cols),
            table_schema, key, bloom_cols)
        tables = [pa.Table.from_batches([b]) for b in iterator]
        if not tables:
            return wavewrite.WaveCommit()
        table = pa.concat_tables(tables).combine_chunks()
        blocks = [wavewrite.empty_blocks_arrow()] + [
            fn(table.filter(pc.equal(table.column("bucket"), b)))
            for b in pc.unique(table.column("bucket")).to_pylist()
        ]
        return wavewrite.stage_blocks(pa.concat_tables(blocks), staging_dir,
                                      table_schema, key)

    class KmersWriter(DataSourceArrowWriter):
        """df.write.format("kmers"): each task encodes whole buckets of
        its partition into ONE block file under a staging wave dir;
        the driver's commit() registers the wave in the manifest with
        the same CAS protocol encode_table uses — a failed job leaves
        only an unregistered orphan dir for the sweep. The colocated
        whole-bucket-per-file contract is validated at commit: a bucket
        appearing in two tasks' messages aborts the job."""

        def __init__(self, path, key, num_buckets, table_schema, overwrite,
                     codec_overrides, wave_name, snapshot_id,
                     bucket_scheme=None, bloom_columns=None,
                     ndv_columns=None):
            self.path = path
            self.key = key
            self.num_buckets = num_buckets
            self.table_schema = table_schema
            self.overwrite = overwrite
            self.codec_overrides = codec_overrides
            self.wave_name = wave_name
            self.snapshot_id = snapshot_id
            self.bucket_scheme = bucket_scheme
            self.bloom_columns = bloom_columns
            self.ndv_columns = ndv_columns

        def _wave_dir(self) -> str:
            return f"{self.path}/blocks/{self.wave_name}"

        def write(self, iterator):
            return _encode_to_staged(iterator, self.table_schema, self.key,
                                     self.codec_overrides, self._wave_dir(),
                                     bloom_cols=self.bloom_columns,
                                     ndv_cols=self.ndv_columns)

        def commit(self, messages) -> None:
            import time

            from . import manifest, wavewrite
            from .operators import partitioning

            if not any(msg is not None and msg.stats for msg in messages):
                # every task saw zero rows: registering the (never
                # created) wave dir would make ALL later decodes fail on
                # a missing path — a no-op write commits nothing
                self.abort(messages)
                return
            # publish ONLY successful attempts' files into the (still
            # unregistered) wave dir; a failed check below aborts, and
            # the abort removes the dir
            stats, key_ranges, bloom_buckets, bloom_cols = wavewrite.publish(
                messages, self._wave_dir(), self._wave_dir())

            m = manifest.load(self.path)
            if m is not None:
                if self.num_buckets and m["num_buckets"] != self.num_buckets:
                    raise ValueError(
                        f"numBuckets={self.num_buckets} != snapshot's "
                        f"{m['num_buckets']}"
                    )
                if self.key != m["key"]:
                    raise ValueError(
                        f"key {self.key!r} != snapshot's {m['key']!r}"
                    )
                n_b = m["num_buckets"]
            else:
                # a fresh table cannot infer the bucket space from the
                # data (the highest buckets may legitimately be empty,
                # and lookups would then hash against the wrong modulus)
                if not self.num_buckets:
                    raise ValueError(
                        "creating a kmers snapshot requires "
                        ".option('numBuckets', N) matching the "
                        "with_bucket() call that bucketed the data"
                    )
                n_b = self.num_buckets
            bad = sorted(b for b in stats if not 0 <= b < n_b)
            if bad:
                raise ValueError(
                    f"bucket ids {bad} outside [0, {n_b}) — the data was "
                    "bucketed with a different modulus than the snapshot's"
                )

            def create_or_check(cur):
                if cur is None:
                    return {
                        "format_version": 2,
                        "snapshot_id": self.snapshot_id,
                        "schema": self.table_schema,
                        "columns": list(self.table_schema),
                        "key": self.key,
                        "num_buckets": n_b,
                        "seed": 42,
                        "committed_buckets": [],
                        "blocks": {},
                        "wave_dirs": [],
                        "hot_keys": {},
                        # see KmersStreamWriter: "external" unless declared
                        "bucket_scheme": (self.bucket_scheme
                                          or partitioning.EXTERNAL_SCHEME),
                        "codec_overrides": self.codec_overrides or {},
                        "created_unix": int(time.time()),
                        **({"bloom_columns": self.bloom_columns}
                           if self.bloom_columns else {}),
                        **({"ndv_columns": self.ndv_columns}
                           if self.ndv_columns else {}),
                    }
                if self.overwrite and cur.get("committed_buckets"):
                    raise ValueError(
                        "mode('overwrite') on a committed kmers snapshot is "
                        "not supported (buckets are immutable); write to a "
                        "fresh dir or append pending buckets"
                    )
                if cur["schema"] != self.table_schema:
                    raise ValueError("written schema differs from the snapshot's")
                return cur

            manifest.commit(self.path, create_or_check)
            manifest.commit_buckets(
                self.path, stats, wave_dir=f"blocks/{self.wave_name}",
                key_ranges=key_ranges or None, bloom_buckets=bloom_buckets,
                bloom_cols=bloom_cols,
            )

        def abort(self, messages) -> None:
            import shutil

            shutil.rmtree(self._wave_dir(), ignore_errors=True)

    from pyspark.sql.datasource import DataSourceStreamArrowWriter

    class KmersStreamWriter(DataSourceStreamArrowWriter):
        """df.writeStream.format("kmers"): continuous ingest into the
        compressed store. Each micro-batch appends ONE wave as a new
        GENERATION of its buckets (manifest.commit_wave_append): tasks
        stage hidden files into blocks/.stream-staging, and commit()
        moves the successful attempts into a fresh wave dir and
        registers it — with the batchId recorded in the SAME CAS
        commit, so a replayed batch (Spark re-runs a batch whose sink
        commit it cannot prove) finds its epoch already present and
        drops its staged files instead of duplicating rows: end-to-end
        exactly-once on top of Spark's offset log. Stats are kept
        inline in the manifest (streams append small waves; the batch
        writer's spill threshold applies to bulk snapshots)."""

        def __init__(self, path, key, num_buckets, table_schema,
                     codec_overrides, snapshot_id, stream_id="stream",
                     bucket_scheme=None, bloom_columns=None,
                     ndv_columns=None):
            self.path = path
            self.key = key
            self.num_buckets = num_buckets
            self.table_schema = table_schema
            self.codec_overrides = codec_overrides
            self.snapshot_id = snapshot_id
            self.bucket_scheme = bucket_scheme
            self.bloom_columns = bloom_columns
            self.ndv_columns = ndv_columns
            # option("streamId"): namespaces batchIds (the Kafka
            # transactional.id pattern) — restarts of the SAME logical
            # query keep their id (replay detection), a NEW query
            # (fresh checkpoint, batchIds restart at 0) uses a new one
            self.stream_id = stream_id

        def _staging(self) -> str:
            return f"{self.path}/blocks/.stream-staging"

        def write(self, iterator):
            return _encode_to_staged(iterator, self.table_schema, self.key,
                                     self.codec_overrides, self._staging(),
                                     bloom_cols=self.bloom_columns,
                                     ndv_cols=self.ndv_columns)

        def _clean_staged(self, staged: list[str]) -> None:
            import os

            for name in staged:
                try:
                    os.unlink(os.path.join(self._staging(), name))
                except OSError:
                    pass

        def commit(self, messages, batchId) -> None:  # noqa: N803 (Spark API)
            import shutil
            import time
            import uuid

            from . import manifest, wavewrite
            from .operators import partitioning

            if not any(msg is not None and msg.stats for msg in messages):
                self._clean_staged(wavewrite.staged_names(messages))
                return  # empty batch: nothing to register

            def create_or_check(cur):
                if cur is None:
                    if not self.num_buckets:
                        raise ValueError(
                            "creating a kmers snapshot requires "
                            ".option('numBuckets', N) matching the "
                            "with_bucket() call that bucketed the stream"
                        )
                    return {
                        "format_version": 2,
                        "snapshot_id": self.snapshot_id,
                        "schema": self.table_schema,
                        "columns": list(self.table_schema),
                        "key": self.key,
                        "num_buckets": self.num_buckets,
                        "seed": 42,
                        "committed_buckets": [],
                        "blocks": {},
                        "wave_dirs": [],
                        "hot_keys": {},
                        # "external" unless the caller DECLARED the rule
                        # via .option("bucketScheme", ...): the sink never
                        # verified how the stream's bucket column was
                        # computed, and recording a hash rule the writer
                        # didn't apply would make lookup_keys probe the
                        # wrong bucket and miss present keys
                        "bucket_scheme": (self.bucket_scheme
                                          or partitioning.EXTERNAL_SCHEME),
                        "codec_overrides": self.codec_overrides or {},
                        "streamed": True,
                        "created_unix": int(time.time()),
                        **({"bloom_columns": self.bloom_columns}
                           if self.bloom_columns else {}),
                        **({"ndv_columns": self.ndv_columns}
                           if self.ndv_columns else {}),
                    }
                if self.num_buckets and cur["num_buckets"] != self.num_buckets:
                    raise ValueError(
                        f"numBuckets={self.num_buckets} != snapshot's "
                        f"{cur['num_buckets']}"
                    )
                if cur["schema"] != self.table_schema:
                    raise ValueError("streamed schema differs from the snapshot's")
                return cur

            m = manifest.commit(self.path, create_or_check)
            known = m.get("stream_epochs", {}).get(self.stream_id, {})
            if manifest.is_replayed_epoch(known, batchId, self.stream_id):
                # replayed batch: its rows are already in
                self._clean_staged(wavewrite.staged_names(messages))
                return
            # publish the wave BEFORE registering it (a crash in between
            # leaves an unregistered w_ dir for the orphan sweep)
            wave_name = f"w_stream{batchId}_{uuid.uuid4().hex[:8]}"
            wave_dir = f"{self.path}/blocks/{wave_name}"
            stats, key_ranges, bloom_buckets, bloom_cols = wavewrite.publish(
                messages, self._staging(), wave_dir)
            wave_rel = f"blocks/{wave_name}"
            m = manifest.commit_wave_append(
                self.path, stats, wave_rel, batchId,
                key_ranges=key_ranges or None, stream_id=self.stream_id,
                bloom_buckets=bloom_buckets, bloom_cols=bloom_cols,
            )
            if m.get("stream_epochs", {}).get(self.stream_id, {}) \
                    .get(str(batchId)) != wave_rel:
                # lost an epoch race (another attempt of this batch
                # committed concurrently): our wave stays unregistered
                shutil.rmtree(wave_dir, ignore_errors=True)
            self._sweep_staging()

        def _sweep_staging(self, grace_sec: float | None = None) -> None:
            """Reclaim staged files no commit message ever claimed (a
            failed executor or a speculative attempt that lost): they
            are hidden and harmless but would accumulate forever on a
            long-running ingest. Same mtime grace as the orphan-wave
            sweep — a concurrent attempt's in-flight file is fresh."""
            import os
            import time

            from .operators.encode import SWEEP_GRACE_SEC

            grace = SWEEP_GRACE_SEC if grace_sec is None else grace_sec
            cutoff = time.time() - grace
            try:
                names = os.listdir(self._staging())
            except OSError:
                return
            for name in names:
                p = os.path.join(self._staging(), name)
                try:
                    if os.path.getmtime(p) <= cutoff:
                        os.unlink(p)
                except OSError:
                    pass

        def abort(self, messages, batchId) -> None:  # noqa: N803
            from . import wavewrite

            self._clean_staged(wavewrite.staged_names(messages))

    def _ds_writer(self, schema, overwrite):
        return _writer(self.options, schema, overwrite)

    def _ds_stream_writer(self, schema, overwrite):
        from . import selector

        if overwrite:
            raise ValueError(
                "the kmers sink is append-only (each micro-batch appends a "
                "generation); outputMode('complete'/'update') would need "
                "per-batch truncation — use outputMode('append')"
            )
        path = self.options.get("path")
        if not path:
            raise ValueError("kmers sink needs a snapshot path: .start('/snap')")
        names = [f.name for f in schema.fields]
        if "bucket" not in names:
            raise ValueError(
                "kmers sink requires a `bucket` int column (assign with "
                "kmers_spark.operators.partitioning.with_bucket, then "
                "repartition('bucket') so a bucket never spans partitions)"
            )
        table_schema = {
            f.name: selector.spark_type_name(f.dataType)
            for f in schema.fields
            if f.name != "bucket"
        }
        key = self.options.get("key", "url")
        if key not in table_schema:
            raise ValueError(f"key column {key!r} not in the written columns")
        overrides = {
            k[len("codec."):]: v
            for k, v in self.options.items() if k.startswith("codec.")
        }
        return KmersStreamWriter(
            path=path,
            key=key,
            num_buckets=int(self.options.get("numbuckets",
                                             self.options.get("numBuckets", 0)) or 0),
            table_schema=table_schema,
            codec_overrides=overrides or None,
            snapshot_id=self.options.get("snapshot_id", "snap-ds-stream"),
            stream_id=self.options.get("streamid",
                                       self.options.get("stream_id", "stream")),
            bucket_scheme=_declared_scheme(self.options),
            bloom_columns=_parse_bloom_columns(
                self.options, table_schema, key, path),
            ndv_columns=_parse_ndv_columns(self.options, table_schema, path),
        )

    KmersDataSource.writer = _ds_writer
    KmersDataSource.streamWriter = _ds_stream_writer
except ImportError:  # pragma: no cover — older Spark without the writer API
    pass


def register(spark) -> None:
    """spark.dataSource.register for this source (idempotent), enabling
    Python-datasource filter pushdown (off by default in Spark 4.1 —
    without it, a reader implementing pushFilters is rejected)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(KmersDataSource)
