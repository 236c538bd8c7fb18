"""Column-level codec layer: nulls, types, selector decisions (FIXTURES §4)."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kmers_spark import arrowcodecs, codecs, selector


def _assert_series_equal(out: pd.Series, expect: pd.Series, typ: str):
    assert len(out) == len(expect)
    for i in range(len(out)):
        a, b = out.iloc[i], expect.iloc[i]
        a_null = a is None or a is pd.NA or (isinstance(a, float) and np.isnan(a)) or a is pd.NaT
        b_null = b is None or b is pd.NA or (isinstance(b, float) and np.isnan(b)) or b is pd.NaT
        if b_null:
            assert a_null, f"row {i}: expected null, got {a!r}"
        else:
            assert not a_null and a == b, f"row {i}: {a!r} != {b!r}"


STRING_CASES = [
    pd.Series(["en"] * 10 + ["de"] * 3 + [None, ""] * 2, dtype=object),
    pd.Series([], dtype=object),
    pd.Series([None, None], dtype=object),
    pd.Series(["x" * 31, "y" * 32, "z" * 33, "", None], dtype=object),
    pd.Series(["héllo wörld", "日本語", "a b", ""], dtype=object),  # non-ASCII
]


@pytest.mark.parametrize("codec", codecs.STRING_CODECS)
@pytest.mark.parametrize("case", range(len(STRING_CASES)))
def test_string_roundtrip(codec, case):
    s = STRING_CASES[case]
    payload, meta = codecs.encode_column(s, codec, "string")
    out = codecs.decode_column(payload, meta)
    _assert_series_equal(out, s, "string")


def test_binary_roundtrip_dirty():
    s = pd.Series([b"<html>\xff\xfe\x80\x00</html>", b"", None, b"\x00" * 40], dtype=object)
    for codec in codecs.STRING_CODECS:
        payload, meta = codecs.encode_column(s, codec, "binary")
        _assert_series_equal(codecs.decode_column(payload, meta), s, "binary")


@pytest.mark.parametrize("codec", codecs.INT_CODECS)
def test_int64_roundtrip(codec):
    s = pd.Series([1, 2, 2, 2, None, -5, 2**62, 0], dtype="Int64")
    payload, meta = codecs.encode_column(s, codec, "int64")
    _assert_series_equal(codecs.decode_column(payload, meta), s, "int64")


@pytest.mark.parametrize("codec", ["plain", "for_bitpack"])
def test_timestamp_roundtrip(codec):
    s = pd.Series(
        pd.to_datetime(
            ["2024-01-01 00:00:00.000001", "2024-01-01 00:05:00", None, "2024-06-30 23:59:59.999999"],
            format="ISO8601",
        )
    ).astype("datetime64[us]")
    payload, meta = codecs.encode_column(s, codec, "timestamp")
    out = codecs.decode_column(payload, meta)
    _assert_series_equal(out, s, "timestamp")


def test_double_roundtrip():
    s = pd.Series([1.5, -0.0, float("nan"), None, 3.14159], dtype=object)
    payload, meta = codecs.encode_column(s, "plain", "double")
    out = codecs.decode_column(payload, meta)
    # bit-identity for non-null floats
    assert out.iloc[0] == 1.5 and str(out.iloc[1]) == "-0.0"
    assert out.iloc[4] == 3.14159


@settings(max_examples=30, deadline=None)
@given(st.lists(st.one_of(st.none(), st.text(max_size=40)), max_size=50))
def test_string_property_all_codecs(vals):
    s = pd.Series(vals, dtype=object)
    for codec in codecs.STRING_CODECS:
        payload, meta = codecs.encode_column(s, codec, "string")
        _assert_series_equal(codecs.decode_column(payload, meta), s, "string")


class TestSelector:
    def test_low_card_runs_picks_dict_rle(self):
        s = pd.Series(["en"] * 600 + ["de"] * 100 + ["fr"] * 50, dtype=object)
        stats = arrowcodecs.column_stats_arrow(pa.array(s), "string")
        assert selector.select_codec(stats, "string") == "dict_rle"

    def test_selector_near_optimal_across_distributions(self):
        # the estimate-based choice must land within 1.4x of the best
        # measured codec on representative string distributions
        rng = np.random.default_rng(9)
        cases = {
            "urls": [f"https://host{rng.integers(0, 400)}.example.com/i{rng.integers(0, 10**6)}" for _ in range(500)],
            "hex_ids": [rng.bytes(16).hex() for _ in range(500)],
            "categories": [f"cat{rng.integers(0, 6)}" for _ in range(500)],
        }
        for name, vals in cases.items():
            s = pd.Series(vals, dtype=object)
            choice = selector.select_codec(arrowcodecs.column_stats_arrow(pa.array(s), "string"), "string")
            sizes = {}
            for codec in codecs.STRING_CODECS:
                p, _ = codecs.encode_column(s, codec, "string")
                sizes[codec] = len(p)
            best = min(sizes.values())
            assert sizes[choice] <= 1.4 * best, (name, choice, sizes)

    def test_sorted_urls_pick_prefix(self):
        s = pd.Series(sorted(f"https://example.com/products/item-{i}" for i in range(500)), dtype=object)
        stats = arrowcodecs.column_stats_arrow(pa.array(s), "string")
        assert selector.select_codec(stats, "string") == "prefix"

    def test_wordy_text_picks_words(self):
        words = ["alpha", "bravo", "charlie", "delta", "echo", "fox", "golf", "hotel"]
        rng = np.random.default_rng(11)
        s = pd.Series(
            [" ".join(rng.choice(words, 25)) + f" u{i}" for i in range(500)],
            dtype=object,
        )
        stats = arrowcodecs.column_stats_arrow(pa.array(s), "string")
        assert selector.select_codec(stats, "string") == "words"

    def test_random_binary_picks_plain(self):
        rng = np.random.default_rng(3)
        s = pd.Series([rng.bytes(64) for _ in range(300)], dtype=object)
        stats = arrowcodecs.column_stats_arrow(pa.array(s), "binary")
        assert selector.select_codec(stats, "binary") == "plain"

    def test_near_sorted_ts_picks_for(self):
        ts = pd.Series(
            pd.to_datetime(1_700_000_000_000_000 + np.cumsum(np.arange(1000) % 600), unit="us")
        ).astype("datetime64[us]")
        stats = arrowcodecs.column_stats_arrow(pa.array(ts), "timestamp")
        assert selector.select_codec(stats, "timestamp") == "for_bitpack"

    def test_constant_picks_rle(self):
        s = pd.Series([7] * 100, dtype="Int64")
        stats = arrowcodecs.column_stats_arrow(pa.array(s), "int64")
        assert selector.select_codec(stats, "int64") == "rle_int"

    def test_selected_codec_always_roundtrips(self):
        cases = [
            (pd.Series(["a"] * 50 + ["b"] * 50, dtype=object), "string"),
            (pd.Series([f"url{i}" for i in range(100)], dtype=object), "string"),
            (pd.Series(np.arange(100), dtype="Int64"), "int64"),
            (pd.Series([1, 1, 1, 2, 2, 3] * 20, dtype="Int64"), "int64"),
        ]
        for s, typ in cases:
            codec = selector.select_codec(arrowcodecs.column_stats_arrow(pa.array(s), typ), typ)
            payload, meta = codecs.encode_column(s, codec, typ)
            _assert_series_equal(codecs.decode_column(payload, meta), s, typ)


class TestFloatArray:
    """array<float> (embeddings) via the vec_plain codec: u32 element
    offsets + raw little-endian float32 values, nulls in the shared
    validity blob — pandas and Arrow paths byte-identical."""

    def _vals(self):
        import numpy as np

        return [
            np.arange(4, dtype=np.float32) * 1.5,
            None,
            np.array([], dtype=np.float32),
            np.array([3.25, -1e-7, 2.0**20, float("inf")], dtype=np.float32),
        ]

    def test_roundtrip_pandas(self):
        import numpy as np
        import pandas as pd

        from kmers_spark import codecs

        vals = self._vals()
        s = pd.Series(vals, dtype=object)
        payload, meta = codecs.encode_column(s, "vec_plain", "float_array")
        back = codecs.decode_column(payload, meta)
        for a, b in zip(vals, back):
            if a is None:
                assert b is None
            else:
                assert np.array_equal(np.asarray(a), np.asarray(b))

    def test_arrow_byte_parity_and_roundtrip(self):
        import numpy as np
        import pandas as pd
        import pyarrow as pa

        from kmers_spark import arrowcodecs, codecs

        vals = self._vals()
        s = pd.Series(vals, dtype=object)
        arr = pa.array(
            [None if v is None else list(np.asarray(v, dtype=np.float32))
             for v in vals],
            type=pa.list_(pa.float32()),
        )
        p1, m1 = codecs.encode_column(s, "vec_plain", "float_array")
        p2, m2 = arrowcodecs.encode_column_arrow(arr, "vec_plain", "float_array")
        assert p1 == p2 and m1 == m2
        back = arrowcodecs.decode_column_arrow(p2, m2)
        assert back.to_pylist() == arr.to_pylist()
        # selected decode (scan path)
        sel = np.array([True, False, False, True])
        got = arrowcodecs.decode_column_arrow_selected(p2, m2, sel)
        assert got.to_pylist() == arr.filter(pa.array(sel)).to_pylist()

    def test_selector_picks_vec_plain(self):
        s = pa.array([[1.0, 2.0]] * 10, pa.list_(pa.float32()))
        stats = arrowcodecs.column_stats_arrow(s, "float_array")
        assert selector.select_codec(stats, "float_array") == "vec_plain"

    def test_spark_store_roundtrip_bit_identical(self, spark, tmp_path):
        import numpy as np

        from kmers_spark.operators import decode as dec, encode as enc

        df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        out = str(tmp_path / "emb")
        enc.encode_table(df, out, key="vec_id", num_buckets=4,
                         detect_skew=False)
        back = dec.decode_colocated(spark, out).toPandas() \
            .sort_values("vec_id").reset_index(drop=True)
        inp = df.toPandas().sort_values("vec_id").reset_index(drop=True)
        assert len(back) == len(inp)
        for a, b in zip(back["embedding"], inp["embedding"]):
            assert np.array_equal(
                np.asarray(a, dtype=np.float32), np.asarray(b, dtype=np.float32)
            )
