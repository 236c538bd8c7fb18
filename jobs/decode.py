"""spark-submit entry point for the decode job.

Usage:
  spark-submit --py-files dist/kmers_spark.zip jobs/decode.py \
      --snapshot /path/to/snapshot --output /path/to/decoded_parquet \
      [--verify /path/to/original]

--verify joins the decoded table back to the original on the manifest
key and fails unless every column is identical (the north-rule
bit-identity invariant at job level).
"""

from __future__ import annotations

import argparse
import json
import sys
from functools import reduce
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--snapshot", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--verify", default=None)
    ap.add_argument(
        "--version", type=int, default=None,
        help="time travel: decode AS OF this manifest version "
        "(the immutable chain keeps every commit's view)",
    )
    ap.add_argument(
        "--columns", default=None,
        help="comma-separated column projection: only these columns' "
        "block payloads are read and decompressed",
    )
    ap.add_argument(
        "--filter", action="append", default=[], metavar="COL:OP:VALUE",
        help="scan predicate (repeatable, ANDed): op in = < <= > >= in; "
        "value parsed by the column's type (timestamps ISO-8601; for "
        "`in`, a comma-separated list). Zone-map bucket pruning + "
        "in-kernel late materialization.",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from kmers_spark import manifest
    from kmers_spark.operators import decode as dec
    from kmers_spark.session import get_spark

    spark = get_spark("kmers_spark_decode")
    filters = None
    if args.filter:
        # resolve the schema AT the requested version: a filter on a
        # time-travel read must parse literals against that snapshot
        m = manifest.load(args.snapshot, version=args.version)
        if m is None:
            raise SystemExit(f"no manifest in {args.snapshot}")
        schema = m["schema"]
        from kmers_spark import zonemap

        try:
            filters = zonemap.parse_cli_filters(args.filter, schema)
        except ValueError as e:
            raise SystemExit(str(e))
    columns = args.columns.split(",") if args.columns else None
    if args.filter:
        # scan_table layers zone-map pruning over the same decode
        decoded = dec.scan_table(spark, args.snapshot, filters,
                                 columns=columns, version=args.version)
    else:
        decoded = dec.decode_table(
            spark, args.snapshot, columns=columns, version=args.version
        )
    decoded.write.mode("overwrite").parquet(args.output)

    result = {"rows": spark.read.parquet(args.output).count()}
    if args.verify:
        m = manifest.load(args.snapshot)
        key = m["key"]
        orig = spark.read.parquet(args.verify)
        dte = spark.read.parquet(args.output)
        conds = [
            (F.col(f"a.{c}") == F.col(f"b.{c}"))
            | (F.col(f"a.{c}").isNull() & F.col(f"b.{c}").isNull())
            for c in orig.columns
            if c != key
        ]
        bad = (
            orig.alias("a")
            .join(dte.alias("b"), key, "full_outer")
            .filter(~reduce(lambda x, y: x & y, conds))
            .count()
        )
        result["mismatched_rows"] = bad
        if bad:
            print(json.dumps(result))
            raise SystemExit(f"bit-identity verification FAILED: {bad} rows differ")
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
