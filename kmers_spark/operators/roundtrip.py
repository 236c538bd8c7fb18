"""In-memory encode->shuffle->decode round-trip over any DataFrame.

This is the correctness-gate form of the pipeline: stage 1 encodes each
bucket's columns into block rows (applyInArrow), the block payloads
cross a real shuffle as binary, stage 2 decodes them back. The driver's
DuckDB oracle is the identity projection — if every byte survives two
Arrow crossings and a shuffle, the codec layer is honest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import manifest as _mf
from .. import selector
from .decode import decode_blocks_df
from .encode import encode_blocks_df

_SPARK_TYPE = _mf.SPARK_DDL_TYPES


def roundtrip(df: DataFrame, key: str, *, num_buckets: int = 8,
              codec_overrides: dict[str, str] | None = None) -> DataFrame:
    """encode+decode df, returning the same rows (order undefined)."""
    schema = {f.name: selector.spark_type_name(f.dataType) for f in df.schema.fields}
    out_schema = ", ".join(f"`{c}` {_SPARK_TYPE[t]}" for c, t in schema.items())

    bucketed = df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(num_buckets)).cast("int")
    )
    blocks = encode_blocks_df(bucketed, schema, key, codec_overrides)
    return decode_blocks_df(blocks, schema, out_schema)
