"""Streaming decode of the committed wave layout (VERDICT r2 #5): as an
ongoing encode commits waves to the manifest, a streaming job
incrementally decodes ONLY the newly committed waves and appends them
to a parquet sink, exactly-once.

Structured Streaming's file source cannot take its file list from a
manifest (it lists directories, which would read uncommitted orphan
waves), so the stream is a ticker (rate source) driving foreachBatch;
each tick diffs the LATEST manifest's wave list against a processed-set
checkpoint and decodes each new wave with the batch reader
(decode_colocated over the snapshot narrowed to that wave).
Idempotence is per wave, not per epoch: every wave decodes into its own
sink partition dir with overwrite, and the processed marker is written
only after the sink write lands — a crash (or Spark epoch replay)
between the two re-decodes the wave into identical files. This is the
same write-then-commit discipline the encode side uses, pointed the
other way.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from .. import manifest
from ..operators.decode import decode_colocated

STATE_NAME = "processed_waves.json"


def _load_state(state_path: str) -> dict:
    try:
        with open(state_path) as f:
            st = json.load(f)
    except FileNotFoundError:
        return {"waves": [], "buckets": []}
    if isinstance(st, list):  # pre-bucket-tracking state files
        return {"waves": st, "buckets": []}
    return st


def _save_state(state_path: str, waves: set[str], buckets: set[int]) -> None:
    os.makedirs(os.path.dirname(state_path), exist_ok=True)
    tmp = state_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"waves": sorted(waves), "buckets": sorted(buckets)}, f)
    os.replace(tmp, state_path)


def decode_new_waves(spark: SparkSession, out_dir: str, sink_dir: str,
                     state_path: str,
                     filters: list[tuple] | None = None) -> list[str]:
    """Decode every committed-but-unprocessed wave into
    sink_dir/wave=<id>/ (overwrite => replay-idempotent); returns the
    waves decoded this call. Reads ONLY the manifest's wave list, so
    uncommitted orphan dirs are never decoded.

    Processed state tracks BUCKETS as well as wave names: a compaction
    rewrites already-delivered waves into one new dir, which would look
    like fresh work by name — but every bucket it holds was already
    delivered, so it's marked processed WITHOUT re-decoding (no
    duplicate rows in the sink). A wave with no manifest bucket list
    (legacy) falls back to name-only tracking.

    `filters` ((col, op, value) triples) turn the sink into an
    incrementally-maintained FILTERED materialized view: each new wave
    decodes through the same in-kernel late-materialization path as
    scan_table, so only matching rows are ever written."""
    m = manifest.load(out_dir)
    if m is None:
        return []
    if m.get("streamed"):
        # a streamed store adds GENERATIONS to already-delivered
        # buckets; this follower's bucket-set dedup (built for batch
        # stores, where buckets commit once and compact_waves only
        # rewrites delivered data) would skip them as already-shipped.
        # The generation-aware follower is the native source:
        # spark.readStream.format("kmers") (KmersStreamReader).
        raise ValueError(
            f"{out_dir} is a streamed (multi-generation) snapshot; "
            "follow it with spark.readStream.format('kmers') — "
            "decode_stream's wave tracking cannot express generations"
        )
    if filters and all(isinstance(f, str) for f in filters):
        # raw COL:OP:VALUE specs (a --follow job started before the
        # first manifest commit defers parsing until one exists)
        from .. import zonemap

        filters = zonemap.parse_cli_filters(filters, m["schema"])
    st = _load_state(state_path)
    waves, buckets = set(st["waves"]), set(st["buckets"])
    wb = m.get("wave_buckets", {})
    decoded_waves = []
    for wd in m.get("wave_dirs", []):
        if wd in waves:
            continue
        wave_buckets = wb.get(wd)
        if wave_buckets is not None and wave_buckets and set(wave_buckets) <= buckets:
            # a compacted rewrite of waves this stream already delivered
            waves.add(wd)
            _save_state(state_path, waves, buckets)
            continue
        # the batch reader, given the snapshot narrowed to this wave;
        # on a partial overlap (compaction merged delivered and
        # undelivered waves) only the buckets not yet shipped
        todo = None if wave_buckets is None else sorted(set(wave_buckets) - buckets)
        decoded = decode_colocated(spark, out_dir, filters=filters, buckets=todo,
                                   snapshot={**m, "wave_dirs": [wd]})
        wave_id = wd.rsplit("/", 1)[-1]
        decoded.write.mode("overwrite").parquet(f"{sink_dir}/wave={wave_id}")
        waves.add(wd)
        if wave_buckets is not None:
            buckets.update(wave_buckets)
        _save_state(state_path, waves, buckets)  # marker AFTER the data lands
        decoded_waves.append(wd)
    return decoded_waves


def decode_stream(spark: SparkSession, out_dir: str, sink_dir: str,
                  checkpoint: str, rows_per_second: int = 1,
                  available_now: bool = False,
                  filters: list[tuple] | None = None):
    """Start the streaming decode: a rate-source ticker whose
    foreachBatch decodes newly committed waves. `available_now=True`
    processes what exists and stops (catch-up run); otherwise the query
    follows the encode job until stopped. Returns the StreamingQuery."""
    state_path = os.path.join(checkpoint, STATE_NAME)
    ticker = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        decode_new_waves(batch_df.sparkSession, out_dir, sink_dir, state_path,
                         filters=filters)

    return (
        ticker.writeStream.foreachBatch(handle)
        .option("checkpointLocation", os.path.join(checkpoint, "query"))
        .trigger(**({"availableNow": True} if available_now else {"processingTime": "1 seconds"}))
        .start()
    )


def read_decoded(spark: SparkSession, sink_dir: str) -> DataFrame:
    """The decoded rows accumulated so far (wave partition column
    dropped — it's lineage, not data)."""
    return spark.read.option("basePath", sink_dir).parquet(f"{sink_dir}/wave=*").drop("wave")
