"""dict / RLE / FOR / FSST kernel round-trips over boundary + dirty axes
(FIXTURES.md §4). All comparisons are byte-identical (north-rule invariant)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kmers_spark.kernels import dictenc, foren, fsst, rle


def _obj(vals):
    a = np.empty(len(vals), dtype=object)
    for i, v in enumerate(vals):
        a[i] = v
    return a


class TestDict:
    def test_roundtrip_and_freq_order(self):
        vals = _obj([b"en"] * 6 + [b"de"] * 3 + [b"fr"] * 1)
        payload, meta = dictenc.encode(vals)
        assert meta["dict_size"] == 3 and meta["code_width"] == 2
        out = dictenc.decode(payload, meta)
        assert list(out) == list(vals)
        # hot value gets code 0 (frequency-ordered assignment)
        dict_blob = payload[: meta["dict_nbytes"]]
        assert dictenc.deserialize_dictionary(dict_blob)[0] == b"en"

    def test_tie_broken_by_value(self):
        vals = _obj([b"b", b"a"])
        _, _ = dictenc.encode(vals)
        codes, d = dictenc.build_dictionary(vals)
        assert d == [b"a", b"b"] and list(codes) == [1, 0]

    @pytest.mark.parametrize("n", [0, 1, 31, 32, 33, 64, 65])
    def test_boundary_lengths(self, n):
        rng = np.random.default_rng(7)
        vals = _obj([f"v{rng.integers(0, 5)}".encode() for _ in range(n)])
        payload, meta = dictenc.encode(vals)
        assert list(dictenc.decode(payload, meta)) == list(vals)

    def test_all_identical_and_all_distinct(self):
        same = _obj([b"x"] * 50)
        p, m = dictenc.encode(same)
        assert m["code_width"] == 0
        assert list(dictenc.decode(p, m)) == list(same)
        uniq = _obj([f"u{i}".encode() for i in range(50)])
        p, m = dictenc.encode(uniq)
        assert list(dictenc.decode(p, m)) == list(uniq)

    def test_empty_string_value(self):
        vals = _obj([b"", b"a", b"", b""])
        p, m = dictenc.encode(vals)
        assert list(dictenc.decode(p, m)) == list(vals)


class TestRLE:
    def test_roundtrip(self):
        arr = np.array([0, 0, 0, 1, 1, 2, 0, 0], dtype=np.uint64)
        p, m = rle.encode(arr)
        assert m["n_runs"] == 4
        np.testing.assert_array_equal(rle.decode(p, m), arr)

    def test_degenerate_single_run(self):
        arr = np.zeros(1000, dtype=np.uint64)
        p, m = rle.encode(arr)
        assert m["n_runs"] == 1 and len(p) <= 3
        np.testing.assert_array_equal(rle.decode(p, m), arr)

    def test_alternating_worst_case(self):
        arr = np.tile([0, 1], 500).astype(np.uint64)
        p, m = rle.encode(arr)
        assert m["n_runs"] == 1000
        np.testing.assert_array_equal(rle.decode(p, m), arr)

    def test_empty(self):
        p, m = rle.encode(np.zeros(0, dtype=np.uint64))
        assert rle.decode(p, m).shape == (0,)


class TestFOR:
    def test_near_sorted_uses_delta(self):
        base = 1_700_000_000_000_000
        v = base + np.cumsum(np.random.default_rng(1).integers(0, 600, 5000))
        p, m = foren.encode(v.astype(np.int64))
        assert m["mode"] == "delta"
        np.testing.assert_array_equal(foren.decode(p, m), v)

    def test_random_uses_for(self):
        v = np.random.default_rng(2).integers(10**9, 10**9 + 10**6, 100).astype(np.int64)
        p, m = foren.encode(v)
        np.testing.assert_array_equal(foren.decode(p, m), v)

    def test_negatives_and_extremes(self):
        v = np.array([-(2**62), 2**62, 0, -1, 1], dtype=np.int64)
        p, m = foren.encode(v)
        np.testing.assert_array_equal(foren.decode(p, m), v)

    @settings(max_examples=50, deadline=None)
    @given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=100))
    def test_property(self, vals):
        v = np.array(vals, dtype=np.int64)
        p, m = foren.encode(v)
        np.testing.assert_array_equal(foren.decode(p, m), v)


class TestFSST:
    def _roundtrip(self, values, sample=None):
        table = fsst.train(sample if sample is not None else values)
        payload, meta = fsst.encode(values, table)
        out = fsst.decode(payload, meta)
        assert out == values
        return payload, meta

    def test_basic_compression(self):
        vals = [b"http://example.com/page/" + str(i).encode() for i in range(200)]
        payload, meta = self._roundtrip(vals)
        raw = sum(len(v) for v in vals)
        assert len(payload) < raw  # actually compresses

    def test_empty_values_and_boundaries(self):
        vals = [b"", b"a", b"", b"ab" * 40, b"", b"x" * 31, b"y" * 32, b"z" * 33]
        self._roundtrip(vals)

    def test_no_boundary_crossing_pairs(self):
        # "ab" frequent but values end with 'a' and start with 'b':
        # matches must not merge across values
        vals = [b"ab" * 10, b"ba", b"a", b"b", b"ab"]
        self._roundtrip(vals)

    def test_bytes_unseen_in_sample_escape(self):
        table = fsst.train([b"aaaa"])
        payload, meta = fsst.encode([b"abc\xff\x00"], table)
        assert fsst.decode(payload, meta) == [b"abc\xff\x00"]

    def test_escape_byte_runs(self):
        # consecutive 0xFF literals stress the escape-run parity rule
        vals = [b"\xff" * 7, b"a\xff\xff", b"\xff"]
        table = fsst.train([b"hello"])  # 0xFF not in table -> escaped
        payload, meta = fsst.encode(vals, table)
        assert fsst.decode(payload, meta) == vals

    def test_binary_with_nuls(self):
        vals = [b"<html>\x00\xfe\x80</html>", b"\x00\x00\x00", b""]
        self._roundtrip(vals)

    @settings(max_examples=40, deadline=None)
    @given(st.lists(st.binary(max_size=60), max_size=30))
    def test_property(self, vals):
        self._roundtrip(vals)

    def test_deterministic(self):
        vals = [b"the quick brown fox " * 3] * 10 + [b"jumps over"] * 5
        t1, t2 = fsst.train(vals), fsst.train(vals)
        assert t1 == t2
        p1, _ = fsst.encode(vals, t1)
        p2, _ = fsst.encode(vals, t2)
        assert p1 == p2


class TestWords:
    def _roundtrip(self, values):
        from kmers_spark.kernels import words

        payload, meta = words.encode(values)
        assert words.decode(payload, meta) == values
        return payload, meta

    def test_roundtrip_exact_spaces(self):
        # split(' ')/join(' ') must preserve runs of spaces and edges
        vals = [b"a b", b" leading", b"trailing ", b"double  space", b"", b" ", b"  "]
        self._roundtrip(vals)

    def test_compresses_zipf_text(self):
        vocab = [f"word{i}".encode() for i in range(64)]
        vals = [b" ".join(vocab[(i * 7 + j) % 64] for j in range(30)) for i in range(200)]
        payload, _ = self._roundtrip(vals)
        raw = sum(len(v) for v in vals)
        assert len(payload) < 0.35 * raw

    def test_column_layer_with_nulls(self):
        import pandas as pd

        from kmers_spark import codecs

        s = pd.Series(["the quick fox", None, "", "the quick fox", "a  b "], dtype=object)
        p, m = codecs.encode_column(s, "words", "string")
        out = codecs.decode_column(p, m)
        assert out[0] == "the quick fox" and out[1] is None
        assert out[2] == "" and out[4] == "a  b "

    def test_selector_picks_words_for_zipf_text(self):
        import pandas as pd
        import pyarrow as pa

        from kmers_spark import arrowcodecs, selector

        vocab = [f"w{i}" for i in range(128)]
        s = pd.Series(
            [
                " ".join(vocab[(i * 37 + j * j * 11) % 128] for j in range(40)) + f" id{i}"
                for i in range(800)
            ]
        )
        stats = arrowcodecs.column_stats_arrow(pa.array(s), "string")
        assert selector.select_codec(stats, "string") == "words"


class TestPrefix:
    def _roundtrip(self, values):
        from kmers_spark.kernels import prefix

        payload, meta = prefix.encode(values)
        assert prefix.decode(payload, meta) == values
        return payload

    def test_roundtrip_sorted_urls(self):
        vals = sorted(f"https://host{i % 7}.example.com/path/{i}".encode() for i in range(300))
        payload = self._roundtrip(vals)
        assert len(payload) < 0.5 * sum(len(v) for v in vals)

    def test_unsorted_and_edges(self):
        self._roundtrip([b"b", b"a", b"", b"aa", b"a", b""])
        self._roundtrip([])
        self._roundtrip([b""])
        self._roundtrip([b"same", b"same", b"same"])

    def test_column_layer(self):
        import pandas as pd

        from kmers_spark import codecs

        s = pd.Series(sorted([f"https://h{i%3}.com/p/{i}" for i in range(50)]) + [None], dtype=object)
        p, m = codecs.encode_column(s, "prefix", "string")
        out = codecs.decode_column(p, m)
        assert list(out[:50]) == sorted([f"https://h{i%3}.com/p/{i}" for i in range(50)])
        assert out[50] is None


# ----------------------------------------------------------------- floats

class TestFloatCodecs:
    def test_dec_scale_roundtrip_bitwise(self):
        import pandas as pd
        from kmers_spark import codecs
        from kmers_spark.kernels import floats

        rng = np.random.default_rng(0)
        v = np.round(rng.exponential(40, 5000), 2)
        assert floats.find_dec_scale(v) == 2
        payload, meta = codecs.encode_column(pd.Series(v), "dec_scale", "double")
        assert meta["codec"] == "dec_scale"
        assert len(payload) < 0.35 * 8 * len(v)
        back = codecs.decode_column(payload, meta).to_numpy()
        assert (back.view(np.uint64) == v.view(np.uint64)).all()

    def test_xor_float_roundtrip_keeps_all_bit_patterns(self):
        import pandas as pd
        from kmers_spark import codecs

        rng = np.random.default_rng(1)
        v = np.concatenate([
            np.cumsum(rng.normal(0, 1e-3, 2000)) + 1e6,
            np.array([0.0, -0.0, np.nan, np.inf, -np.inf, 5e-324]),
        ])
        payload, meta = codecs.encode_column(pd.Series(v), "xor_float", "double")
        back = codecs.decode_column(payload, meta).to_numpy()
        assert (back.view(np.uint64) == v.view(np.uint64)).all()

    def test_dec_scale_falls_back_on_inexact_block(self):
        import pandas as pd
        from kmers_spark import codecs

        v = np.array([1.25, 0.1 + 0.2, 3.0])  # 0.30000000000000004 breaks it
        payload, meta = codecs.encode_column(pd.Series(v), "dec_scale", "double")
        assert meta["codec"] == "xor_float"
        back = codecs.decode_column(payload, meta).to_numpy()
        assert (back.view(np.uint64) == v.view(np.uint64)).all()

    def test_selector_picks_float_codecs(self):
        import pyarrow as pa

        from kmers_spark import arrowcodecs, selector

        def pick(v):
            return selector.select_codec(
                arrowcodecs.column_stats_arrow(pa.array(v), "double"), "double")

        rng = np.random.default_rng(2)
        assert pick(np.round(rng.exponential(40, 4000), 2)) == "dec_scale"
        assert pick(rng.random(4000) * 1e9) == "plain"
        assert pick(np.cumsum(rng.normal(0, 1e-6, 4000)) + 123.0) == "xor_float"

    def test_arrow_path_byte_compatible(self):
        import pyarrow as pa
        import pandas as pd
        from kmers_spark import arrowcodecs, codecs

        rng = np.random.default_rng(3)
        v = np.round(rng.exponential(40, 3000), 2)
        p1, m1 = codecs.encode_column(pd.Series(v), "dec_scale", "double")
        p2, m2 = arrowcodecs.encode_column_arrow(pa.array(v), "dec_scale", "double")
        assert p1 == p2 and m1 == m2
        back = arrowcodecs.decode_column_arrow(p2, m2).to_numpy()
        assert (back.view(np.uint64) == v.view(np.uint64)).all()

    def test_nulls_roundtrip(self):
        import pandas as pd
        from kmers_spark import codecs

        s = pd.Series([1.25, None, 3.5, None, 7.75], dtype="Float64")
        for codec in ("dec_scale", "xor_float", "plain"):
            payload, meta = codecs.encode_column(s, codec, "double")
            back = codecs.decode_column(payload, meta)
            assert back.isna().tolist() == s.isna().tolist()
            assert back.dropna().tolist() == s.dropna().tolist()


# ------------------------------------------------------ gcd + sortdelta

class TestGcdAndSortDelta:
    def test_foren_gcd_second_granularity(self):
        """Coarse-granularity values in fine units (Common-Crawl WARC-Date:
        seconds stored as epoch-us) must shed the dead log2(gcd) bits."""
        from kmers_spark.kernels import foren

        rng = np.random.default_rng(0)
        v = 1_704_067_200_000_000 + rng.integers(0, 30 * 86400, 4096) * 1_000_000
        p, m = foren.encode(v)
        assert m.get("gcd") == 1_000_000
        assert m["width"] <= 22
        assert (np.asarray(foren.decode(p, m)) == v).all()

    def test_foren_gcd_mixed_sign_deltas(self):
        from kmers_spark.kernels import foren

        rng = np.random.default_rng(1)
        v = np.cumsum(rng.integers(-50, 50, 4096) * 1_000_000) + 10**15
        p, m = foren.encode(v)
        assert m["mode"] == "delta" and m.get("gcd") == 1_000_000
        assert (np.asarray(foren.decode(p, m)) == v).all()

    def test_foren_gcd_int64_min_delta(self):
        """A delta gcd >= 2**63 (the only nonzero delta wraps to int64
        min) must not crash the encode path (ADVICE r2: np.int64(g)
        raised OverflowError); extraction is skipped and the block still
        round-trips exactly."""
        from kmers_spark.kernels import foren

        for v in (
            np.array([-2**62, 2**62], dtype=np.int64),
            np.array([0, -2**63, 0], dtype=np.int64),
            np.array([2**62, -2**62, 2**62], dtype=np.int64),
        ):
            p, m = foren.encode(v)
            # FOR-mode gcd >= 2**63 is fine (pure uint64 arithmetic);
            # delta-mode gcd must have been skipped (int64 division)
            if m["mode"] == "delta":
                assert m.get("gcd", 1) < 2**63
            assert (np.asarray(foren.decode(p, m)) == v).all()

    def test_sortdelta_roundtrip(self):
        from kmers_spark.kernels import sortdelta

        rng = np.random.default_rng(2)
        for v in (
            rng.integers(-2**40, 2**40, 5000),
            np.array([7, 7, 7, 7]),
            np.array([], dtype=np.int64),
            np.array([5]),
        ):
            v = v.astype(np.int64)
            p, m = sortdelta.encode(v)
            assert (sortdelta.decode(p, m) == v).all()

    def test_sortdelta_never_selected_against_for_gcd_zlib(self):
        """Measured finding (BENCH r2): the stored permutation carries
        log2(n!) bits — exactly the information sorting removes — so
        sort-permutation + delta cannot beat FOR + gcd + the zlib
        backstop on any order-preserving column; zlib already dedups
        duplicate-heavy payloads without paying for a perm. The codec
        stays available by override (it pays only when the CONSUMER may
        reorder rows, dropping the perm); the selector must not pick it
        on representative fixtures."""
        import pandas as pd
        import pyarrow as pa

        from kmers_spark import arrowcodecs, codecs, selector

        rng = np.random.default_rng(3)
        fixtures = [
            rng.choice(rng.integers(0, 2**40, 300) * 2 + 1, 8192),  # dup-heavy
            rng.integers(0, 2**40, 8192),                           # uniform
            rng.permutation(np.arange(8192)) * 250_000,             # shuffled grid
        ]
        for v in fixtures:
            v = v.astype(np.int64)
            st = arrowcodecs.column_stats_arrow(pa.array(v), "int64")
            assert selector.select_codec(st, "int64") != "sortdelta"
            pf, _ = codecs.encode_column(pd.Series(v), "for_bitpack", "int64")
            ps, ms = codecs.encode_column(pd.Series(v), "sortdelta", "int64")
            assert (codecs.decode_column(ps, ms).to_numpy(dtype=np.int64) == v).all()
            assert len(pf) <= 1.05 * len(ps)  # FOR is never (meaningfully) worse

    def test_sortdelta_column_codec_both_paths(self):
        import pandas as pd
        import pyarrow as pa
        from kmers_spark import arrowcodecs, codecs

        rng = np.random.default_rng(4)
        v = rng.choice(np.arange(0, 2**40, 2**30), 3000).astype(np.int64)
        p1, m1 = codecs.encode_column(pd.Series(v), "sortdelta", "int64")
        p2, m2 = arrowcodecs.encode_column_arrow(pa.array(v), "sortdelta", "int64")
        assert p1 == p2 and m1 == m2
        assert (codecs.decode_column(p1, m1).to_numpy(dtype=np.int64) == v).all()
        assert (arrowcodecs.decode_column_arrow(p2, m2).to_numpy() == v).all()


# ------------------------------------------------- property-based (new kernels)

from hypothesis import given, settings
from hypothesis import strategies as st


class TestRound2Properties:
    @settings(max_examples=60, deadline=None)
    @given(st.lists(st.floats(allow_nan=True, allow_infinity=True, width=64), max_size=300))
    def test_xor_float_roundtrip_any_bits(self, vals):
        from kmers_spark.kernels import floats

        v = np.array(vals, dtype=np.float64)
        back = floats.decode_xor(floats.encode_xor(v), len(v))
        assert (back.view(np.uint64) == v.view(np.uint64)).all()

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(st.integers(min_value=-10**6, max_value=10**6), min_size=1, max_size=300),
        st.integers(min_value=0, max_value=4),
    )
    def test_dec_scale_roundtrip_any_fixed_point(self, ints, s):
        from kmers_spark.kernels import floats

        v = (np.array(ints, dtype=np.float64) / 10.0 ** s)
        found = floats.find_dec_scale(v)
        assert 0 <= found <= s
        body, meta = floats.encode_dec_scale(v, found)
        back = floats.decode_dec_scale(body, meta)
        assert (back.view(np.uint64) == v.view(np.uint64)).all()

    @settings(max_examples=60, deadline=None)
    @given(st.lists(st.integers(min_value=-2**62, max_value=2**62), max_size=300))
    def test_sortdelta_roundtrip_any_ints(self, ints):
        from kmers_spark.kernels import sortdelta

        v = np.array(ints, dtype=np.int64)
        p, m = sortdelta.encode(v)
        assert (sortdelta.decode(p, m) == v).all()

    @settings(max_examples=40, deadline=None)
    @given(st.text(alphabet="ACGT", min_size=33, max_size=96), st.integers(33, 96))
    def test_multiword_pack_roundtrip_property(self, seq, k):
        from kmers_spark.kernels import domain

        k = min(k, len(seq))
        s = seq[:k]
        w = domain.pack_batch(domain.codes_matrix(np.array([s]), k))
        assert domain.unpack_batch(w, k).astype(str)[0] == s.lower()
        rc = domain.unpack_batch(domain.revcomp_batch(w, k), k).astype(str)[0]
        assert rc.upper() == s.translate(str.maketrans("ACGT", "TGCA"))[::-1]

    @settings(max_examples=40, deadline=None)
    @given(st.text(alphabet="ACGT", min_size=9, max_size=200), st.integers(0, 190))
    def test_packed_slice_property(self, seq, pos):
        from kmers_spark.kernels import domain

        k = 9
        if len(seq) < k:
            return
        pos = pos % (len(seq) - k + 1)
        b = domain.pack_seq(seq)
        w = domain.slice_kmers_packed([b], np.array([pos]), k)
        got = domain.unpack_batch(w.reshape(1, 1), k).astype(str)[0]
        assert got == seq[pos : pos + k].lower()


class TestPforMiniblocks:
    def test_pfor_selected_on_outlier_deltas_and_smaller(self):
        """Rare large jumps in near-sorted values (host-clustered crawl
        timestamps) must not force the whole block to the outlier's
        width: the per-miniblock layout self-selects and beats the
        global width by >15% (measured ~23% — BENCH/ROUND3.md)."""
        from kmers_spark.kernels import bitpack, foren

        rng = np.random.default_rng(5)
        n = 50_000
        v = (np.cumsum(np.where(rng.random(n) < 0.002,
                                rng.integers(10**9, 10**12, n),
                                rng.integers(0, 2000, n)))
             + 1_700_000_000_000_000).astype(np.int64)
        p, m = foren.encode(v)
        assert m["mode"] == "pfor_delta"
        assert (np.asarray(foren.decode(p, m)) == v).all()
        # global-width delta size for comparison
        d = np.diff(v, prepend=v[0]).astype(np.int64)
        zz = ((d << np.int64(1)) ^ (d >> np.int64(63))).view(np.uint64)
        global_sz = (n * bitpack.width_for(int(zz.max())) + 7) // 8
        assert len(p) < 0.85 * global_sz

    def test_pfor_not_selected_when_global_wins(self):
        """Uniform residuals have no width variance to exploit: the
        miniblock headers would be pure overhead, so global modes stay."""
        from kmers_spark.kernels import foren

        rng = np.random.default_rng(6)
        v = rng.integers(0, 2**30, 20_000).astype(np.int64)
        p, m = foren.encode(v)
        assert m["mode"] in ("for", "delta")

    def test_pfor_roundtrip_edge_shapes(self):
        from kmers_spark.kernels import foren

        rng = np.random.default_rng(7)
        for n in (1, 127, 128, 129, 255, 256, 257, 4096):
            # zero-width miniblocks interleaved with wide ones
            v = np.repeat(rng.integers(0, 2**40, (n + 255) // 256), 256)[:n]
            v = v + (rng.random(n) < 0.01) * 2**50
            v = np.cumsum(v).astype(np.int64)
            p, m = foren.encode(v)
            assert (np.asarray(foren.decode(p, m)) == v).all(), (n, m["mode"])

    def test_pfor_column_codec_both_paths(self):
        """for_bitpack through the pandas and Arrow column codecs picks
        pfor identically and stays byte-identical."""
        import pandas as pd
        import pyarrow as pa
        from kmers_spark import arrowcodecs, codecs

        rng = np.random.default_rng(8)
        n = 30_000
        v = (np.cumsum(np.where(rng.random(n) < 0.003,
                                rng.integers(10**8, 10**11, n),
                                rng.integers(0, 500, n)))).astype(np.int64)
        p1, m1 = codecs.encode_column(pd.Series(v), "for_bitpack", "int64")
        p2, m2 = arrowcodecs.encode_column_arrow(pa.array(v), "for_bitpack", "int64")
        assert p1 == p2 and m1 == m2
        assert m1["for"]["mode"] == "pfor_delta"
        assert (codecs.decode_column(p1, m1).to_numpy(dtype=np.int64) == v).all()
        assert (arrowcodecs.decode_column_arrow(p2, m2).to_numpy() == v).all()
