"""The bucket-decode kernel: one bucket's block rows -> its rows.

Spark-free, so every read path runs this one function: the decode
reader in Spark tasks and in the driver (operators/decode.py
decode_colocated, behind decode_table, scan_table, lookup_keys,
agg_table and topk_table), the `kmers` DataSource reader, the
colocated join and the in-memory round trip. The block-set integrity
checks (duplicate, missing and stray columns) therefore exist once.

Blocks are self-describing, so a bucket decodes from its own rows
alone. A streamed store holds one GENERATION of a bucket per wave
file; callers pass one generation's rows at a time and the rows union.
"""

from __future__ import annotations

import json

import pyarrow as pa
import pyarrow.compute as pc

from . import arrowcodecs, zonemap

# the block-row fields the kernel reads
FETCH = ["bucket", "column", "meta", "payload"]


def wave_of(file_path: str) -> str:
    """Wave dir basename from a block file path/URI — the key
    manifest.wave_allowance maps generations by."""
    return file_path.rstrip("/").rsplit("/", 2)[-2]


def split_rows(table: pa.Table, column: str = "bucket") -> list[tuple[object, pa.Table]]:
    """[(value, rows holding it)] for each distinct value of `column`,
    in value order — block rows of several buckets (or generations)
    apart, one kernel call each."""
    groups: dict[object, list[int]] = {}
    for i, v in enumerate(table.column(column).to_pylist()):
        groups.setdefault(v, []).append(i)
    return [(v, table.take(idx)) for v, idx in sorted(groups.items())]


def empty_table(schema: dict[str, str], cols: list[str] | None = None) -> pa.Table:
    """Zero rows of `cols` (default: all of `schema`), decode-typed."""
    return pa.table({c: pa.array([], type=zonemap.arrow_type(schema[c]))
                     for c in (list(schema) if cols is None else cols)})


def decode_bucket(rows: pa.Table, schema: dict[str, str],
                  norm: list[tuple] | None = None,
                  allowed_missing=(),
                  out_cols: list[str] | None = None) -> pa.Table:
    """Decode one bucket generation's block rows (FETCH fields; extra
    fields are ignored) into a table of `out_cols` (default: every
    `schema` column, in schema order).

    `schema` ({column: type}) is the block set the rows must carry:
    a column absent from the rows is a hard error unless it is in
    `allowed_missing` (the schema-evolution allowance from
    manifest.missing_columns / wave_allowance), in which case it
    null-fills at the bucket's row count. A duplicated column, or a
    column outside `schema`, is corruption too (stray rows from an
    uncommitted write, a bucket split across files, foreign rows in a
    wave dir) and raises instead of returning silently wrong rows.

    `norm` (zonemap.normalize_filters output) is late materialization:
    the filter columns decode first, the mask is evaluated on them, and
    the remaining columns decode only for selected rows (segmented
    codecs skip whole segments). Zero matches return an empty table
    without decoding anything else."""
    bucket = rows.column("bucket")[0].as_py()
    idx: dict[str, int] = {}
    for i, c in enumerate(rows.column("column").to_pylist()):
        if c in idx:
            raise ValueError(
                f"duplicate block rows for bucket {bucket}: column {c!r} "
                "appears twice (stray rows from an uncommitted write, or a "
                "corrupt wave dir)"
            )
        idx[c] = i
    absent = [c for c in schema if c not in idx and c not in allowed_missing]
    stray = [c for c in idx if c not in schema]
    if absent or stray:
        raise ValueError(
            f"bucket {bucket} block set is corrupt: missing columns {absent}, "
            f"stray columns {stray} (split across partitions, or foreign rows "
            "in a wave dir)"
        )
    metas = rows.column("meta").to_pylist()
    payloads = rows.column("payload")
    out_cols = list(schema) if out_cols is None else out_cols

    def block(c: str) -> tuple[bytes, dict]:
        return payloads[idx[c]].as_py(), json.loads(metas[idx[c]])

    def nulls(c: str, n: int) -> pa.Array:
        return pa.nulls(n, type=zonemap.arrow_type(schema[c]))

    arrays: dict[str, pa.Array] = {}

    def dec(c: str) -> pa.Array:
        if c not in arrays:
            # an evolved column null-fills at the row count any present
            # block's meta carries
            arrays[c] = (arrowcodecs.decode_column_arrow(*block(c)) if c in idx
                         else nulls(c, json.loads(metas[0])["n"]))
        return arrays[c]

    if not norm:
        return pa.table({c: dec(c) for c in out_cols})
    mask = zonemap.arrow_mask(dec, norm)
    nsel = pc.sum(mask).as_py() or 0
    if not nsel:
        return empty_table(schema, out_cols)
    sel = mask.to_numpy(zero_copy_only=False)
    out: dict[str, pa.Array] = {}
    for c in out_cols:
        if c in arrays:  # decoded for the mask: just filter
            out[c] = arrays[c].filter(mask)
        elif c in idx:
            out[c] = arrowcodecs.decode_column_arrow_selected(*block(c), sel)
        else:
            out[c] = nulls(c, nsel)
    return pa.table(out)
