"""The write protocol: how every writer turns block rows into a wave.

encode_table, the merge-on-write rewrite (delete_keys, upsert_table),
compact_waves, compact_stream and both DataSource sinks write the same
way:

  1. Task side (`stage_blocks`). A task holds the block rows of WHOLE
     buckets, plus each bucket's Bloom payloads as tagged rows in the
     same Arrow stream (`with_blooms`: codec `BLOOM_CODEC`, column = the
     filtered column). The encode and merge kernels never touch
     storage. The task strips the tagged rows and writes the block rows
     to ONE hidden `.staged-<uuid>.parquet` in the stage dir, each Bloom
     payload to a hidden `.staged-bloom-*` / `.staged-cbloom-*` file
     beside it, and returns a commit record (`WaveCommit`): the
     buckets' manifest stats (`blockstats`), their key ranges and the
     staged names. A Spark plan runs this in `mapInArrow` and the
     driver collects the records (`write_wave`; that collect is the
     write job). The sinks return the record from `write()`.
  2. Driver side (`publish`). The collected records are the ONLY files
     claimed, so a failed, retried or speculative attempt's staged
     files never become visible. A bucket named in two records aborts
     before anything is renamed. Claimed files are renamed into the
     wave dir: `part-<uuid>.parquet`, `_blooms/b<bucket>_<uuid>.bloom`
     and `_blooms/c<bucket>_<colhex>_<uuid>.bloom`. A private stage (the
     wave dir itself) is then cleared of every unclaimed `.staged-*`.
  3. The caller registers the wave with one CAS manifest commit
     (`manifest.commit_buckets`, `manifest.commit_wave_append` or
     `rewrite.commit_rewrite`), passing what `publish` returned. The
     wave dir is invisible to readers until then: a crash before the
     commit leaves an unregistered dir that `sweep_orphan_waves`
     reclaims.

No Spark job reads a written wave back: its stats travel in the
records. Row groups hold whole buckets, close to Spark's 128 MiB
default, with parquet statistics on `bucket` and `column` only (the
columns readers filter block rows by).
"""

from __future__ import annotations

import json
import os
import pickle
import uuid
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from .kernels import bloom as bloomkern

try:  # the DataSource writer API (Spark 4.0+) types the sinks' records
    from pyspark.sql.datasource import WriterCommitMessage
except ImportError:  # pragma: no cover
    WriterCommitMessage = object

# tag of a Bloom payload row in a kernel's output stream
BLOOM_CODEC = "__bloom__"
# row-group budget (Spark's parquet.block.size default); groups are cut
# at bucket boundaries, so one bucket larger than this is one group
ROW_GROUP_BYTES = 128 << 20

_BLOCK_TYPES = {
    "bucket": pa.int32(), "column": pa.string(), "codec": pa.string(),
    "n_rows": pa.int64(), "raw_nbytes": pa.int64(), "enc_nbytes": pa.int64(),
    "payload": pa.binary(), "meta": pa.string(),
}
_STAT_FIELDS = ("znull", "zsum", "znan", "zndv", "zhll")


@dataclass
class WaveCommit(WriterCommitMessage):
    stats: dict = field(default_factory=dict)       # bucket -> [block stats]
    key_ranges: dict = field(default_factory=dict)  # bucket -> [lo, hi]
    staged_file: str | None = None                  # hidden part file name
    bloom_files: dict = field(default_factory=dict)  # bucket -> staged name
    col_bloom_files: dict = field(default_factory=dict)  # bucket -> {col: staged name}


def block_table(rows: dict[str, list]) -> pa.Table:
    """Block rows (BLOCK_SCHEMA's Arrow types) from column lists."""
    return pa.table({c: pa.array(rows[c], t) for c, t in _BLOCK_TYPES.items()})


def empty_blocks_arrow() -> pa.Table:
    return block_table({c: [] for c in _BLOCK_TYPES})


def with_blooms(encode, schema: dict[str, str], key: str,
                bloom_cols: list[str] | None):
    """`encode` (a make_encode_fn_arrow kernel) followed by the bucket's
    Bloom payloads as tagged rows: the key filter (lookup_keys probes
    it to skip buckets that definitely lack a probe key) and one per
    `bloom_cols` column (equality-scan pruning, decode.
    bloom_prune_filters). Writers validate `bloom_cols` as non-key
    string/int64 schema columns, and rewrites materialize an evolved
    gap as nulls, so each is present. An all-null column gets no
    filter."""

    def fn(table: pa.Table) -> pa.Table:
        bucket = table.column("bucket")[0].as_py() if table.num_rows else -1
        rows: dict[str, list] = {c: [] for c in _BLOCK_TYPES}
        for c in [key, *(bloom_cols or ())]:
            bl = bloomkern.build_for_key_arrow(table.column(c), schema[c])
            if bl is None:
                continue
            payload, meta = bl
            for name, v in (("bucket", bucket), ("column", c),
                            ("codec", BLOOM_CODEC), ("n_rows", 0),
                            ("raw_nbytes", 0), ("enc_nbytes", 0),
                            ("payload", payload)):
                rows[name].append(v)
            rows["meta"].append(json.dumps(
                meta if c == key else {**meta, "column": c}, sort_keys=True))
        return pa.concat_tables([encode(table), block_table(rows)])

    return fn


def blockstats(blocks: pa.Table, schema: dict[str, str],
               key: str) -> tuple[dict[int, list[dict]], dict[int, list]]:
    """({bucket: [block stats]}, {bucket: [key_min, key_max]}) of block
    rows: each row's `meta` is parsed once. The one place the write side
    names a zone statistic. Zone bounds are typed by the column's type
    (epoch-us ints for timestamps)."""
    stats: dict[int, list[dict]] = {}
    key_ranges: dict[int, list] = {}
    cols = {c: blocks.column(c).to_pylist()
            for c in ("bucket", "column", "codec", "n_rows", "raw_nbytes",
                      "enc_nbytes", "meta")}
    for i, b in enumerate(cols["bucket"]):
        col = cols["column"][i]
        meta = json.loads(cols["meta"][i])
        st = {c: cols[c][i] for c in ("column", "codec", "n_rows",
                                      "raw_nbytes", "enc_nbytes")}
        if meta.get("zmin") is not None and meta.get("zmax") is not None:
            typ = schema.get(col)
            cast = (int if typ in ("int64", "timestamp", "timestamp_ntz")
                    else float if typ == "double" else (lambda v: v))
            st["zmin"], st["zmax"] = cast(meta["zmin"]), cast(meta["zmax"])
        for z in _STAT_FIELDS:
            if meta.get(z) is not None:
                st[z] = meta[z]
        stats.setdefault(int(b), []).append(st)
        if col == key and "key_min" in meta:
            key_ranges[int(b)] = [meta["key_min"], meta["key_max"]]
    return stats, key_ranges


def _write_parquet(blocks: pa.Table, path: str) -> None:
    """Bucket-sorted block rows -> one parquet file whose row groups hold
    whole buckets, each group cut once it would pass ROW_GROUP_BYTES."""
    n = blocks.num_rows
    b = blocks.column("bucket").to_numpy()
    ends = [*(np.flatnonzero(b[1:] != b[:-1]) + 1).tolist(), n]
    size = np.concatenate([[0], np.cumsum(
        pc.binary_length(blocks.column("payload")).to_numpy()
        + pc.binary_length(blocks.column("meta")).to_numpy())])
    # uncompressed: payloads are already entropy-coded, snappy only
    # burns CPU; payload/meta statistics would only add footer bytes
    with pq.ParquetWriter(path, blocks.schema, compression="none",
                          write_statistics=["bucket", "column"]) as w:
        lo = prev = 0
        for end in ends:
            if prev > lo and size[end] - size[lo] > ROW_GROUP_BYTES:
                w.write_table(blocks.slice(lo, prev - lo),
                              row_group_size=prev - lo)
                lo = prev
            prev = end
        w.write_table(blocks.slice(lo, n - lo), row_group_size=n - lo)


def stage_blocks(blocks: pa.Table, staging_dir: str, schema: dict[str, str],
                 key: str) -> WaveCommit:
    """Task side: stage the block rows (whole buckets, Bloom rows
    tagged) as hidden files in `staging_dir` and return their record."""
    rec = WaveCommit()
    if blocks.num_rows == 0:
        return rec
    os.makedirs(staging_dir, exist_ok=True)
    tagged = pc.equal(blocks.column("codec"), BLOOM_CODEC)
    for r in blocks.filter(tagged).to_pylist():
        b, c, tok = int(r["bucket"]), r["column"], uuid.uuid4().hex[:12]
        if c == key:
            name = f".staged-bloom-b{b}-{tok}"
            rec.bloom_files[b] = name
        else:
            name = f".staged-cbloom-b{b}-{c.encode('utf-8').hex()}-{tok}"
            rec.col_bloom_files.setdefault(b, {})[c] = name
        bloomkern.write_named(staging_dir, name, r["payload"], json.loads(r["meta"]))
    blocks = blocks.filter(pc.invert(tagged))
    blocks = blocks.take(pc.sort_indices(blocks.column("bucket")))  # stable
    rec.stats, rec.key_ranges = blockstats(blocks, schema, key)
    rec.staged_file = f".staged-{uuid.uuid4().hex[:12]}.parquet"
    _write_parquet(blocks, os.path.join(staging_dir, rec.staged_file))
    return rec


def staged_names(records) -> list[str]:
    """Every staged file `records` name (for cleaning up after an
    abort). Records from an older writer or a test double may lack the
    Bloom fields."""
    names = []
    for rec in records:
        if rec is None:
            continue
        if rec.staged_file:
            names.append(rec.staged_file)
        names.extend(getattr(rec, "bloom_files", {}).values())
        names.extend(n for cols in getattr(rec, "col_bloom_files", {}).values()
                     for n in cols.values())
    return names


def publish(records, staging_dir: str, wave_dir: str):
    """Driver side: claim exactly the files `records` name and make them
    the wave's visible files. Returns (stats, key_ranges, bloom_buckets,
    bloom_cols) for the manifest commit. A wave without a claimed data
    file still gets a schema-only one, as Spark's writer does, so every
    registered wave dir stays readable."""
    stats: dict[int, list] = {}
    key_ranges: dict[int, list] = {}
    staged: list[str] = []
    blooms: dict[int, str] = {}
    col_blooms: dict[int, dict] = {}
    for rec in records:
        if rec is None:
            continue
        for b, s in rec.stats.items():
            if int(b) in stats:
                raise ValueError(
                    f"bucket {b} spans multiple write tasks — "
                    "repartition('bucket') before writing so each bucket "
                    "lands whole in one partition"
                )
            stats[int(b)] = s
        key_ranges.update({int(b): r for b, r in rec.key_ranges.items()})
        if rec.staged_file:
            staged.append(rec.staged_file)
        # getattr: records from an older writer or a test double may
        # predate the Bloom fields
        blooms.update({int(b): n
                       for b, n in getattr(rec, "bloom_files", {}).items()})
        col_blooms.update({int(b): dict(cols) for b, cols
                           in getattr(rec, "col_bloom_files", {}).items()})
    os.makedirs(wave_dir, exist_ok=True)
    for name in staged:
        os.replace(os.path.join(staging_dir, name),
                   os.path.join(wave_dir, name.replace(".staged-", "part-", 1)))
    if not staged:
        pq.write_table(empty_blocks_arrow(), os.path.join(
            wave_dir, f"part-{uuid.uuid4().hex[:12]}.parquet"),
            compression="none")
    bdir = os.path.join(wave_dir, bloomkern.BLOOM_DIR)
    if blooms or col_blooms:
        os.makedirs(bdir, exist_ok=True)
    for b, name in blooms.items():
        os.replace(os.path.join(staging_dir, name),
                   os.path.join(bdir, bloomkern.sidecar_name(b)))
    bloom_cols: dict[str, list[int]] = {}
    for b, cols in col_blooms.items():
        for c, name in cols.items():
            os.replace(os.path.join(staging_dir, name),
                       os.path.join(bdir, bloomkern.col_sidecar_name(b, c)))
            bloom_cols.setdefault(c, []).append(b)
    if staging_dir == wave_dir:
        # a private stage: what no record claimed belongs to a failed or
        # duplicate attempt (a shared stream stage is swept by age)
        for name in os.listdir(wave_dir):
            if name.startswith(".staged-"):
                os.unlink(os.path.join(wave_dir, name))
    return (stats, key_ranges, sorted(blooms),
            {c: sorted(v) for c, v in bloom_cols.items()})


def write_wave(blocks, wave_dir: str, schema: dict[str, str], key: str):
    """Run the protocol over a DataFrame of block rows whose partitions
    hold whole buckets: one Spark job stages them into `wave_dir` and
    collects the records, then `publish` claims them. Returns what
    publish returns."""
    def stage(batches):
        tables = [pa.Table.from_batches([b]) for b in batches]
        rec = stage_blocks(pa.concat_tables(tables) if tables
                           else empty_blocks_arrow(), wave_dir, schema, key)
        yield pa.RecordBatch.from_pydict(
            {"record": pa.array([pickle.dumps(rec)], pa.binary())})

    rows = blocks.mapInArrow(stage, "record binary").collect()
    return publish([pickle.loads(r["record"]) for r in rows], wave_dir,
                   wave_dir)
