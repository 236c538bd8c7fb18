"""In-memory encode->shuffle->decode round-trip over any DataFrame.

This is the correctness-gate form of the pipeline: stage 1 encodes each
bucket's columns into block rows (applyInArrow), the block payloads
cross a real shuffle as binary, stage 2 decodes them back. The driver's
DuckDB oracle is the identity projection — if every byte survives two
Arrow crossings and a shuffle, the codec layer is honest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import arrowcodecs, blockdecode, selector
from .decode import _ddl
from .encode import encode_blocks_df


def roundtrip(df: DataFrame, key: str, *, num_buckets: int = 8,
              codec_overrides: dict[str, str] | None = None) -> DataFrame:
    """encode+decode df, returning the same rows (order undefined)."""
    schema = {f.name: selector.spark_type_name(f.dataType) for f in df.schema.fields}

    bucketed = df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(num_buckets)).cast("int")
    )
    blocks = encode_blocks_df(bucketed, schema, key, codec_overrides)

    # no store here: the shuffled block rows of a bucket are one group
    def decode_group(table):
        arrowcodecs.pin_worker_threads()
        return blockdecode.decode_bucket(table, schema)

    return blocks.groupBy("bucket").applyInArrow(decode_group, _ddl(schema))
