"""Zone maps + filtered scans over the compressed store.

Per-block column bounds ride in each block's meta, land in the
manifest at commit, and scan_table prunes buckets driver-side before
any payload is read (Iceberg column-bounds pruning, block-granular).
Pruning must be SOUND (never drops a matching row) under truncation,
nulls, legacy stores without bounds, and every supported op.
"""

from __future__ import annotations

import datetime
import random
import string as _string

import pytest
from pyspark.sql import functions as F

from kmers_spark import manifest, zonemap
from kmers_spark.operators.decode import decode_table, scan_table
from kmers_spark.operators.encode import encode_table
from tests.conftest import jobs_of, reads_no_files


# ------------------------------------------------------------- unit: bounds

def test_truncate_bounds_are_bounds():
    rng = random.Random(7)
    alphabet = _string.printable + "é中\U0001F600\U0010FFFF"
    for _ in range(500):
        s = "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 80)))
        lo = zonemap.truncate_min(s)
        assert lo <= s and len(lo) <= zonemap.STR_BOUND_WIDTH
        hi = zonemap.truncate_max(s)
        if hi is not None:
            assert hi >= s and len(hi) <= zonemap.STR_BOUND_WIDTH
            # the incremented bound must not be a lone surrogate
            assert all(not (0xD800 <= ord(c) <= 0xDFFF) for c in hi)


def test_truncate_max_unbounded_when_all_max_codepoint():
    assert zonemap.truncate_max("\U0010FFFF" * 40) is None
    # not truncated -> exact value, even at the max code point
    assert zonemap.truncate_max("\U0010FFFF" * 10) == "\U0010FFFF" * 10


@pytest.mark.parametrize(
    "rng,op,value,expect",
    [
        ((10, 20), "=", 15, True),
        ((10, 20), "=", 9, False),
        ((10, 20), "=", 21, False),
        ((10, 20), "<", 10, False),
        ((10, 20), "<", 11, True),
        ((10, 20), "<=", 10, True),
        ((10, 20), "<=", 9, False),
        ((10, 20), ">", 20, False),
        ((10, 20), ">", 19, True),
        ((10, 20), ">=", 20, True),
        ((10, 20), ">=", 21, False),
        ((10, 20), "in", [1, 2, 15], True),
        ((10, 20), "in", [1, 2, 30], False),
        (None, "=", 999, True),  # no bounds recorded -> must keep
    ],
)
def test_may_match_table(rng, op, value, expect):
    assert zonemap.may_match(rng, op, value) is expect


def test_may_match_exhaustive_soundness():
    """For every small range and op, may_match is implied by the truth:
    if some x in [lo, hi] satisfies the predicate, may_match is True."""
    ops = {
        "=": lambda x, v: x == v,
        "<": lambda x, v: x < v,
        "<=": lambda x, v: x <= v,
        ">": lambda x, v: x > v,
        ">=": lambda x, v: x >= v,
    }
    for lo in range(0, 6):
        for hi in range(lo, 6):
            for v in range(-1, 8):
                domain = range(lo, hi + 1)
                for op, fn in ops.items():
                    truth = any(fn(x, v) for x in domain)
                    got = zonemap.may_match((lo, hi), op, v)
                    assert got or not truth, (lo, hi, op, v)
                    # for untruncated int bounds the check is also exact
                    assert got == truth, (lo, hi, op, v)


# ----------------------------------------------------- integration fixtures

@pytest.fixture(scope="module")
def events_store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("zonemap") / "events_store")
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    m = encode_table(df, out, key="event_id", num_buckets=8, detect_skew=False)
    return out, df, m


def test_non_url_key_spreads_buckets(events_store):
    """The with_host fallback: an int64 key must hash across all
    buckets, not collapse to the empty-host bucket."""
    _out, _df, m = events_store
    nonempty = [b for b, s in m["blocks"].items() if s]
    assert len(nonempty) == 8


def test_bucket_for_key_mirror_non_url(spark, events_store):
    """Driver-side bucket mirror agrees with the Spark expression for
    non-url keys too (the fallback changed both sides in lockstep)."""
    from kmers_spark.operators import partitioning

    _out, df, m = events_store
    rows = (
        partitioning.with_bucket(
            df.select(F.col("event_id").cast("string").alias("event_id")),
            8, {}, url_col="event_id",
        )
        .select("event_id", "bucket").limit(50).collect()
    )
    for r in rows:
        assert partitioning.bucket_for_key(r["event_id"], 8, {}) == r["bucket"]


def test_manifest_records_bounds_for_all_prunable_columns(events_store):
    _out, _df, m = events_store
    for b, stats in m["blocks"].items():
        by_col = {s["column"]: s for s in stats}
        for col in ("event_id", "ts", "user_id", "event_type", "value", "props"):
            assert "zmin" in by_col[col], (b, col)
            assert by_col[col]["zmin"] <= by_col[col]["zmax"]
        # timestamps are stored as epoch-us ints (JSON-safe, orderable)
        assert isinstance(by_col["ts"]["zmin"], int)


@pytest.mark.parametrize(
    "filters",
    [
        [("event_type", "=", "error")],
        [("event_type", "=", "error"), ("value", ">=", 100.0)],
        [("value", "<", 50.0)],
        [("user_id", ">=", 10), ("user_id", "<", 13)],
        [("event_type", "in", ["signup", "view"])],
        [("ts", ">=", datetime.datetime(2024, 1, 10))],
        [("ts", "<", datetime.datetime(2024, 1, 5)), ("value", ">", 200.0)],
        [("props", ">=", '{"k": 5')],  # string range on a json-ish column
    ],
)
def test_scan_matches_decode_plus_filter(spark, events_store, filters):
    out, _df, m = events_store
    got = scan_table(spark, out, filters).toPandas()
    norm = zonemap.normalize_filters(filters, m["schema"])
    from kmers_spark.operators.decode import _filters_expr

    want = decode_table(spark, out).filter(
        _filters_expr(norm, m["schema"])
    ).toPandas()
    got = got.sort_values("event_id").reset_index(drop=True)
    want = want.sort_values("event_id").reset_index(drop=True)
    assert got.equals(want)
    assert len(got)  # every fixture filter matches something


def test_scan_projection_keeps_filter_semantics(spark, events_store):
    out, df, _m = events_store
    got = scan_table(
        spark, out, [("event_type", "=", "error")], columns=["event_id", "value"]
    )
    assert got.columns == ["event_id", "value"]
    exp = df.filter(df.event_type == "error").select("event_id", "value")
    a = got.toPandas().sort_values("event_id").reset_index(drop=True)
    b = exp.toPandas().sort_values("event_id").reset_index(drop=True)
    assert a.equals(b)


def test_scan_outside_global_range_plans_no_scan(spark, events_store):
    """A predicate outside every bucket's bounds prunes ALL buckets:
    the result is an empty local plan — zero files listed, zero jobs."""
    out, _df, _m = events_store
    res = scan_table(spark, out, [("value", ">", 1e12)])
    assert reads_no_files(res)  # no parquet source at all
    assert res.count() == 0
    assert jobs_of(spark, res.collect) == ([], 0)
    assert res.columns == ["event_id", "ts", "user_id", "event_type", "value", "props"]


def test_scan_prunes_clustered_buckets(spark, tmp_path):
    """On a fixture whose filter column is constant per bucket (the
    clustered-ingestion case zone maps exist for), a point predicate
    keeps exactly one bucket."""
    from kmers_spark.operators import partitioning

    n_b = 8
    rows = []
    for i in range(400):
        key = f"k{i:05d}"
        b = partitioning.bucket_for_key(key, n_b, {})
        rows.append((key, b * 1000 + (i % 100), float(b)))
    df = spark.createDataFrame(rows, "url string, shard long, score double")
    out = str(tmp_path / "clustered")
    m = encode_table(df, out, key="url", num_buckets=n_b, detect_skew=False)

    norm = zonemap.normalize_filters([("shard", "=", 3025)], m["schema"])
    kept = zonemap.prune_buckets(m, norm)
    assert kept == [3]

    got = scan_table(spark, out, [("shard", ">=", 3000), ("shard", "<", 4000)])
    want = [r for r in rows if 3000 <= r[1] < 4000]
    assert sorted(map(tuple, got.collect())) == sorted(want)


def test_scan_auto_engine_is_shuffle_free(spark, events_store, monkeypatch):
    """scan_table decodes through the colocated reader: its Spark plan
    must contain no Exchange (payload bytes never reshuffle), and
    results must match the source rows exactly."""
    from kmers_spark.operators import decode as dec

    out, df, _m = events_store
    filters = [("event_type", "=", "error")]
    monkeypatch.setattr(dec, "LOCAL_READ_MAX_BYTES", 0)
    got = scan_table(spark, out, filters)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    a = got.toPandas().sort_values("event_id").reset_index(drop=True)
    b = (df.filter(df.event_type == "error").toPandas()
         .sort_values("event_id").reset_index(drop=True))
    assert len(a) and a.equals(b)


def test_scan_on_legacy_store_without_bounds(spark, events_store, tmp_path):
    """Bounds are advisory: a manifest whose stats carry no zmin/zmax
    (pre-zone-map snapshot) keeps every bucket and stays correct."""
    out, df, m = events_store
    import copy

    legacy = copy.deepcopy(m)
    for stats in legacy["blocks"].values():
        for s in stats:
            s.pop("zmin", None)
            s.pop("zmax", None)
    norm = zonemap.normalize_filters([("value", ">", 1e12)], m["schema"])
    assert zonemap.prune_buckets(legacy, norm) == legacy["committed_buckets"]


def test_scan_rejects_bad_filters(spark, events_store):
    out, _df, _m = events_store
    with pytest.raises(KeyError):
        scan_table(spark, out, [("nope", "=", 1)])
    with pytest.raises(ValueError):
        scan_table(spark, out, [("value", "!=", 1.0)])
    with pytest.raises(ValueError):
        scan_table(spark, out, [("value", "=")])


def test_kernel_filter_matches_jvm_filter(spark, events_store):
    """decode_table(filters=...) — the in-kernel late-materialization
    path — must agree exactly with decoding everything and filtering
    JVM-side, across types, ops, and null semantics."""
    out, _df, m = events_store
    cases = [
        [("event_type", "=", "error"), ("value", ">=", 100.0)],
        [("ts", "<", datetime.datetime(2024, 1, 5))],
        [("user_id", "in", [1, 5, 9])],
        [("value", ">", 1e12)],  # zero matches everywhere
    ]
    for filters in cases:
        got = decode_table(spark, out, filters=filters).toPandas()
        norm = zonemap.normalize_filters(filters, m["schema"])
        from kmers_spark.operators.decode import _filters_expr

        want = decode_table(spark, out).filter(
            _filters_expr(norm, m["schema"])
        ).toPandas()
        got = got.sort_values("event_id").reset_index(drop=True)
        want = want.sort_values("event_id").reset_index(drop=True)
        assert got.equals(want), filters


def test_colocated_filter_matches(spark, events_store):
    from kmers_spark.operators.decode import decode_colocated

    out, df, _m = events_store
    got = decode_colocated(
        spark, out, filters=[("event_type", "=", "purchase"), ("value", "<", 50.0)]
    ).toPandas().sort_values("event_id").reset_index(drop=True)
    want = (
        df.filter((df.event_type == "purchase") & (df.value < 50.0))
        .toPandas().sort_values("event_id").reset_index(drop=True)
    )
    assert got.equals(want)
    assert len(got)


def test_masks_agree_pandas_vs_arrow(events_store):
    """The two kernel mask implementations (Arrow path / pandas
    fallback) select identical rows, including null handling."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    schema = {"a": "int64", "b": "string", "t": "timestamp_ntz", "v": "double"}
    pdf = pd.DataFrame(
        {
            "a": pd.array([1, 2, None, 4, 5], dtype="Int64"),
            "b": ["x", None, "y", "x", "z"],
            "t": pd.to_datetime(
                ["2024-01-01", "2024-01-05", None, "2024-02-01", "2024-01-20"]
            ),
            "v": [1.0, float("nan"), 3.0, 4.0, 5.0],
        }
    )
    arrow = {
        "a": pa.array([1, 2, None, 4, 5], pa.int64()),
        "b": pa.array(["x", None, "y", "x", "z"], pa.string()),
        "t": pa.array(pdf["t"], pa.timestamp("us")),
        "v": pa.array([1.0, None, 3.0, 4.0, 5.0], pa.float64()),
    }
    pdf_nullsafe = pdf.copy()
    pdf_nullsafe["v"] = pd.array([1.0, None, 3.0, 4.0, 5.0], dtype="Float64")
    cases = [
        [("a", ">=", 2)],
        [("b", "=", "x")],
        [("b", "in", ["x", "z"])],
        [("t", "<", datetime.datetime(2024, 1, 10))],
        [("v", ">", 2.5), ("a", "<", 5)],
    ]
    for filters in cases:
        norm = zonemap.normalize_filters(filters, schema)
        am = zonemap.arrow_mask(lambda c: arrow[c], norm).to_pylist()
        pm = zonemap.pandas_mask(lambda c: pdf_nullsafe[c], norm, schema)
        assert [bool(x) for x in am] == list(np.asarray(pm)), filters


def test_lookup_keys_int64_key_and_malformed_probe(spark, events_store):
    """Point lookups on an int64-keyed store: numeric probes hit, a
    malformed probe returns empty instead of crashing the join with an
    ANSI cast error, and the key predicate pushed into the kernel
    keeps results exact."""
    from kmers_spark.operators.decode import lookup_keys

    out, df, _m = events_store
    got = lookup_keys(spark, out, ["5", "17"]).toPandas()
    assert sorted(got["event_id"]) == [5, 17]
    assert lookup_keys(spark, out, ["abc"]).count() == 0
    assert lookup_keys(spark, out, ["5", "abc"]).count() == 1


def test_scan_int_epoch_us_timestamp_literal(spark, events_store, monkeypatch):
    """to_bound_space documents ints as epoch-us; the residual JVM
    filter must interpret them the same way (a bare cast('timestamp')
    reads epoch-SECONDS and silently empties the scan)."""
    from kmers_spark.operators import decode as dec

    out, df, _m = events_store
    cut = datetime.datetime(2024, 1, 10)
    cut_us = int(cut.timestamp() * 0 + (cut - datetime.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    for limit in (dec.LOCAL_READ_MAX_BYTES, 0):
        with monkeypatch.context() as mp:
            mp.setattr(dec, "LOCAL_READ_MAX_BYTES", limit)
            got = scan_table(spark, out, [("ts", ">=", cut_us)])
            want = df.filter(df.ts >= cut).count()
            assert got.count() == want > 0, limit
    got_in = scan_table(spark, out, [("user_id", "in", [3, 7])]).count()
    assert got_in == df.filter(df.user_id.isin(3, 7)).count() > 0


def test_scan_rejects_unknown_projection_columns(spark, events_store):
    out, _df, _m = events_store
    with pytest.raises(KeyError, match="not in snapshot schema"):
        scan_table(spark, out, [("value", ">", 1.0)], columns=["evnt_id", "value"])


def test_stray_block_rows_raise(spark, events_store, tmp_path, monkeypatch):
    """Null-fill for schema evolution must not mask corruption: block
    rows for a column the snapshot never had are a hard error, on both
    plans of the reader."""
    import glob
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kmers_spark.operators import decode as dec
    from kmers_spark.operators.encode import committed_wave_paths

    src, _df, _m = events_store
    out = str(tmp_path / "stray")
    shutil.copytree(src, out)
    f = sorted(glob.glob(f"{committed_wave_paths(out)[0]}/part-*.parquet"))[0]
    t = pq.read_table(f)
    one = t.slice(0, 1)  # a row of the file's first bucket, renamed
    one = one.set_column(one.schema.get_field_index("column"), "column",
                         pa.array(["zzz"], one.schema.field("column").type))
    pq.write_table(pa.concat_tables([t, one]), f)
    for limit in (dec.LOCAL_READ_MAX_BYTES, 0):
        monkeypatch.setattr(dec, "LOCAL_READ_MAX_BYTES", limit)
        with pytest.raises(Exception, match="stray columns"):
            decode_table(spark, out).collect()


def test_bucket_scheme_recorded_and_legacy_mirrors(spark, events_store):
    """New manifests record the bucket scheme; the legacy scheme
    reproduces the pre-scheme behavior (non-url keys hash to the
    ''-host bucket) so old snapshots keep resolving."""
    from kmers_spark import sparkhash
    from kmers_spark.operators import partitioning as pt

    _out, _df, m = events_store
    assert m["bucket_scheme"] == pt.BUCKET_SCHEME
    # legacy: every non-url key collapses to the ""-host bucket
    legacy = {pt.bucket_for_key(str(k), 8, {}, scheme=pt.LEGACY_SCHEME)
              for k in range(50)}
    assert legacy == {sparkhash.pmod(sparkhash.xxhash64("", 0), 8)}
    # url keys: identical under both schemes
    for u in ("https://a.example.com/x", "http://b.org/p?q=1"):
        assert pt.bucket_for_key(u, 8, {}) == \
            pt.bucket_for_key(u, 8, {}, scheme=pt.LEGACY_SCHEME)


def test_legacy_snapshot_without_scheme_lookup_roundtrip(spark, tmp_path):
    """A manifest missing bucket_scheme (pre-scheme snapshot) must be
    encoded AND probed with the legacy hash: rows land where the old
    code put them and lookups still find them."""
    from kmers_spark import manifest as mf
    from kmers_spark.operators.decode import lookup_keys
    from kmers_spark.operators.encode import encode_table

    out = str(tmp_path / "legacy")
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # pre-create the manifest exactly as an old build would (no
    # bucket_scheme); encode_table resumes onto it
    from kmers_spark import selector

    schema = {f.name: selector.spark_type_name(f.dataType) for f in df.schema.fields}
    mf.commit(out, lambda cur: {
        "format_version": 2, "snapshot_id": "legacy", "schema": schema,
        "columns": list(schema), "key": "event_id", "num_buckets": 8,
        "seed": 42, "committed_buckets": [], "blocks": {}, "wave_dirs": [],
        "hot_keys": {}, "codec_overrides": {}, "created_unix": 0,
    })
    m = encode_table(df, out, key="event_id", num_buckets=8, detect_skew=False)
    # legacy hashing: everything in the ""-host bucket
    nonempty = [b for b, s in m["blocks"].items() if s]
    assert len(nonempty) == 1
    got = lookup_keys(spark, out, ["5", "17"]).toPandas()
    assert sorted(got["event_id"]) == [5, 17]


def test_table_stats_zero_job(spark, events_store):
    """count/min/max answered from the manifest alone: exact rows for
    every column, exact bounds for numeric/timestamp, conservative
    (truncation-widened) bounds for strings."""
    from kmers_spark.metrics import table_stats

    out, df, _m = events_store
    stats = table_stats(out)
    n = df.count()
    pdf = df.toPandas()
    for col in ("event_id", "ts", "user_id", "event_type", "value", "props"):
        assert stats[col]["rows"] == n, col
    assert stats["event_id"]["min_bound"] == int(pdf["event_id"].min())
    assert stats["event_id"]["max_bound"] == int(pdf["event_id"].max())
    assert stats["value"]["min_bound"] == pdf["value"].min()
    assert stats["value"]["max_bound"] == pdf["value"].max()
    # timestamps: epoch-us bound space
    assert stats["ts"]["min_bound"] == int(
        pdf["ts"].min().to_datetime64().astype("datetime64[us]").astype("int64")
    )
    # strings: conservative bounds bracket the true extremes
    assert stats["event_type"]["min_bound"] <= pdf["event_type"].min()
    assert stats["event_type"]["max_bound"] >= pdf["event_type"].max()


def test_decode_preserves_input_column_order(spark, events_store):
    """The manifest JSON sorts dict keys; the ordered `columns` list
    restores the writer's column order on every read path."""
    out, df, _m = events_store
    assert decode_table(spark, out).columns == df.columns
    m2 = manifest.load(out)
    assert m2["columns"] == df.columns


# -------------------------------------------------------------- op: prefix

def test_prefix_filters_exact_rewrite():
    """(col, "prefix", p) is sugar for the EXACT range pair
    [p, p-with-last-char-incremented): same match set as startswith on
    arbitrary strings, including prefixes ending in U+10FFFF (open
    upper bound) and the empty prefix (no filter)."""
    rng = random.Random(11)
    alphabet = "ab\x00é中\U0010FFFF"
    for _ in range(300):
        p = "".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 5)))
        pairs = zonemap.prefix_filters("c", p)
        vals = ["".join(rng.choice(alphabet)
                        for _ in range(rng.randrange(0, 7)))
                for _ in range(40)] + [p, p + "a", p[:-1]]
        for v in vals:
            want = v.startswith(p)
            got = all(
                (v >= bv) if op == ">=" else (v < bv)
                for _c, op, bv in pairs
            )
            # the surrogate-gap skip may over-cover (keep extra rows);
            # the residual/kernel mask re-filters — soundness means
            # never DROPPING a match
            if want:
                assert got, (p, v)
            elif got:
                # over-coverage happens when the last char's +1
                # INCREMENT lands in the surrogate gap, i.e. last char
                # in [U+D7FF, U+DFFE] (ADVICE r5: the old condition
                # tested whether the char itself was a surrogate, which
                # misses U+D7FF and can't occur in valid strings)
                assert any(0xD7FF <= ord(ch) <= 0xDFFE
                           for ch in p[-1:]) or "\U0010FFFF" in p, (p, v)
    # empty prefix: every NON-NULL string matches (SQL LIKE semantics
    # exclude NULL), expressed as >= ""
    assert zonemap.prefix_filters("c", "") == [("c", ">=", "")]


def test_scan_prefix_op_matches_like(spark, events_store):
    """scan_table((col, 'prefix', p)) == the LIKE 'p%' result; CLI
    spelling COL:prefix:VALUE parses to the same triples; non-string
    columns refuse."""
    out, df, m = events_store
    want = sorted(
        r["event_id"]
        for r in df.filter(F.col("event_type").startswith("pu")).collect()
    )
    got = sorted(
        r["event_id"]
        for r in scan_table(spark, out,
                            [("event_type", "prefix", "pu")]).collect()
    )
    assert got == want and want
    schema = manifest.ordered_schema(m)
    cli = zonemap.parse_cli_filters(["event_type:prefix:pu"], schema)
    assert zonemap.normalize_filters(cli, schema) == \
        zonemap.normalize_filters([("event_type", "prefix", "pu")], schema)
    with pytest.raises(ValueError, match="string column"):
        zonemap.normalize_filters([("event_id", "prefix", "3")], schema)
