"""Physical-plan assertions: the declarative operators must actually get
the Catalyst treatment they were designed for (pushdown, pruning,
broadcast, partial aggregation) — a correct-but-slow plan is a bug."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_decode_bucket_filter_pushes_down(spark, tmp_path, monkeypatch):
    from kmers_spark import pages
    from kmers_spark.operators import decode as dec, encode as enc

    monkeypatch.setattr(dec, "LOCAL_READ_MAX_BYTES", 0)  # the Spark plan
    df = pages.pages_df(spark, 400, partitions=2)
    out = str(tmp_path / "snap")
    enc.encode_table(df, out, num_buckets=4, detect_skew=False)
    plan = _plan(dec.decode_table(spark, out, buckets=[1]))
    # the bucket predicate must reach the parquet scan (row-group pruning)
    assert "PushedFilters" in plan and "bucket" in plan.split("PushedFilters")[1][:200]


def test_dim_join_is_broadcast(spark):
    from kmers_spark.functions import olap

    plan = _plan(olap.join_orders_customers(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_canonical_count_has_partial_agg(spark):
    from kmers_spark.functions import dna

    plan = _plan(dna.canonical_count(spark, SF, 5))
    # map-side partial aggregation before the shuffle
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan or "partial" in plan.lower()


def test_kmer_extract_prunes_columns(spark):
    from kmers_spark.functions import dna

    plan = _plan(dna.kmer_extract(spark, SF, 5))
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read and "doc_id" in read
    assert "lang" not in read and "source" not in read and "n_chars" not in read


def test_encode_input_scan_not_wider_than_needed(spark):
    # roundtrip on 2 columns must scan only those 2 columns
    from kmers_spark.operators.roundtrip import roundtrip

    df = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "lang")
    plan = _plan(roundtrip(df, "doc_id"))
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read and "lang" in read


def test_ann_cosine_plan_vectorized_no_shuffle(spark):
    """r6: the query vector rides in the Arrow UDF's closure (bounded
    1-row transfer, the broadcast-crossJoin twin), scoring is ONE
    vectorized ArrowEvalPython over the scan — no row-at-a-time
    BatchEvalPython, no Exchange before the TakeOrdered — and the
    vec_id predicate now reaches the parquet scan (the old crossJoin
    blocked pushdown)."""
    from kmers_spark.functions import ann

    plan = _plan(ann.cosine_topk(spark, SF, 0, 5))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan
    # the final top-k is a TakeOrdered, not a global sort
    assert "TakeOrderedAndProject" in plan
    read = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "vec_id" in read


def test_embedding_lsh_buckets_bounded_and_no_cartesian(spark):
    """Banded LSH must (a) join on (band, band_key) — no cartesian in the
    plan — and (b) keep per-band key populations bounded so the
    within-bucket self-join cannot degenerate (the fixed-2^6 failure
    mode at 100x). planes_for() sizes the key space with the corpus."""
    from kmers_spark.functions import ann

    df = ann.embedding_dup_pairs(spark, SF, n_planes=16, n_bands=2)
    plan = _plan(df)
    # no true cartesian; the only nested-loop join allowed is the
    # broadcast fan-out against the 16-row planes table
    assert "CartesianProduct" not in plan
    # the candidate self-join must be an equi-join keyed on the band key
    import re
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[band", plan)

    # key-space sizing grows with N: at 10^9 vectors, >= 24 planes/band
    assert ann.planes_for(10**9, target_bucket=64) >= 24
    assert ann.planes_for(1000) == 8

    # measured population: with 16 planes over the sf0.001 dup corpus no
    # (band, band_key) bucket exceeds a small constant multiple of the
    # duplicate-pair structure (each vector + its copy share all keys)
    from pyspark.sql import functions as F
    e = ann._emb_with_dups(spark, SF)
    planes_df = spark.range(16).select(F.col("id").cast("int").alias("plane"))
    keys = (
        e.crossJoin(F.broadcast(planes_df))
        .select(
            "vec_id",
            (F.col("plane") / 8).cast("int").alias("band"),
            (F.col("plane") % 8).alias("bandbit"),
            (ann._signed_dot(F.col("embedding"), F.col("plane")) > 0).cast("long").alias("bit"),
        )
        .groupBy("vec_id", "band")
        .agg(F.sum(F.expr("bit * shiftleft(1L, cast(bandbit as int))")).alias("band_key"))
    )
    n = e.count()
    biggest = (
        keys.groupBy("band", "band_key").count().agg(F.max("count")).collect()[0][0]
    )
    assert biggest <= max(0.25 * n, 16), (biggest, n)


def test_no_query_plan_contains_cartesian(spark):
    """Safety net across the WHOLE query surface: no query may plan a
    CartesianProduct (the non-broadcast all-pairs join). Broadcast
    nested loops against tiny literal tables (planes, query vectors)
    are allowed; an accidental cartesian on two big sides is not."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod

    offenders = {}
    for name, fn in entrymod.queries().items():
        plan = _plan(fn(spark, SF))
        if "CartesianProduct" in plan:
            offenders[name] = True
    assert not offenders, f"cartesian joins in: {sorted(offenders)}"


def test_entry_one_row_per_table_column(spark):
    """The driver-contract flagship encodes every table through the
    encode job's kernel: one codec/ratio row per (table, column), and
    each column's block row counts add up to the table's row count."""
    import __spark_entry__ as entrymod

    rows = entrymod.entry(spark).collect()
    got = {}
    for r in rows:
        assert (r["table"], r["column"]) not in got, r
        got[(r["table"], r["column"])] = r["n_rows"]
    for table in ("documents", "events", "embeddings"):
        df = spark.read.parquet(f"{SF}/{table}.parquet")
        assert {c for t, c in got if t == table} == set(df.columns)
        n = df.count()
        assert all(v == n for (t, _), v in got.items() if t == table), table
