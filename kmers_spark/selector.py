"""Per-(partition, column) codec auto-selection from sampled statistics.

The reference hard-codes one dictionary of 4 and picks among 24 code
assignments (encoding/naive.rs:49-74); here the "assignment" decision is
generalized to *which codec family* fits the sampled distribution:

    stats (arrowcodecs.column_stats_arrow): n, distinct (exact on the
           sample), mean run length, byte entropy (strings),
           sortedness (ints/timestamps)

    decision tree (recorded per block in the lineage manifest):
      string/binary:
        distinct==1           -> dict_rle (degenerate: ~0 bits/value)
        distinct/n small AND mean_run high -> dict_rle
        distinct/n small      -> dict
        byte_entropy low      -> fsst
        else                  -> plain
      int64/timestamp:
        distinct==1           -> rle_int
        mean_run high         -> rle_int (or dict_rle_int for small dicts)
        near-sorted or bounded range -> for_bitpack (delta picks itself)
        else                  -> plain
      double:
        decimal-exact sample   -> dec_scale (scaled-int FOR/bitpack)
        zero-dense xor stream  -> xor_float (Gorilla-style + zlib)
        else                   -> plain

All thresholds are explicit module constants so the selector is
deterministic and its decisions are reproducible from the manifest.
"""

from __future__ import annotations

DICT_MAX_CARD_FRAC = 0.1      # dictionary pays off when distinct/n below this
DICT_MAX_CARD_ABS = 1 << 16   # and dictionary small enough to broadcast in-block
RLE_MIN_MEAN_RUN = 2.0        # mean run length where RLE beats plain codes
FSST_MAX_ENTROPY = 6.5        # bits/byte; above this, text is incompressible


FSST_GAIN = 0.62   # measured FSST-lite body ratio on English-like text
FSST_HEADER = 600  # symbol table + meta, amortized per block


def select_codec(stats: dict, typ: str) -> str:
    """Map stats -> codec name by *estimated encoded size* (robust at any
    block size, unlike fixed cardinality-fraction thresholds)."""
    n = max(stats.get("n", 0) - stats.get("n_null", 0), 1)
    distinct = stats.get("distinct", n)
    mean_run = max(stats.get("mean_run", 1.0), 1.0)

    if typ in ("string", "binary"):
        if distinct <= 1:
            return "dict_rle"
        avg = stats.get("avg_len", 8.0)
        width = max((distinct - 1).bit_length(), 1)
        n_runs = n / mean_run
        dict_cost = distinct * (avg + 5)
        est = {
            "dict": dict_cost + n * width / 8.0,
            "dict_rle": dict_cost + n_runs * (width + 16) / 8.0,
            "fsst": FSST_HEADER + n * (FSST_GAIN * avg + 0.75),
            "plain": n * (avg + 4),
        }
        acp = stats.get("avg_common_prefix", 0.0)
        if acp >= 4.0:
            est["prefix"] = FSST_HEADER + n * (FSST_GAIN * (avg - acp) + 1.5)
        tpv = stats.get("tokens_per_value", 0.0)
        if tpv >= 2.0:
            # word-dictionary: extrapolate sample token cardinality to the
            # block (sub-linear growth: Heaps' law exponent ~0.7)
            sample_n = min(n, 1024)
            d_tok = stats["distinct_tokens"] * max(n / sample_n, 1.0) ** 0.7
            t_total = tpv * n
            tok_width = max(int(d_tok).bit_length(), 1)
            est["words"] = (
                d_tok * (stats["avg_tok_len"] + 5) + t_total * tok_width / 8.0 + n
            )
        if distinct > DICT_MAX_CARD_ABS:
            est.pop("dict"), est.pop("dict_rle")
        if stats.get("byte_entropy", 8.0) > FSST_MAX_ENTROPY:
            est.pop("fsst")
        return min(est, key=lambda c: (est[c], c))

    if typ in ("int64", "timestamp", "timestamp_ntz"):
        if distinct <= 1:
            return "rle_int"
        if mean_run >= RLE_MIN_MEAN_RUN and distinct <= DICT_MAX_CARD_ABS:
            return "dict_rle_int" if distinct <= 256 else "rle_int"
        rb = stats.get("range_bits", 64)
        # sortdelta is override-only (kernels/sortdelta.py docstring): its
        # stored permutation carries exactly the log2(n!) bits sorting
        # removes, so it cannot beat for_bitpack's self-selected delta
        # mode + gcd extraction — the old gate compared against the raw
        # FOR range width and could pick sortdelta when for_bitpack
        # encoded smaller (compression regression, ADVICE r2).
        if rb < 64 or stats.get("sortedness", 0.0) >= 0.5:
            return "for_bitpack"
        return "plain"

    if typ == "double":
        # decimal-exact on the sample -> scaled-int FOR/bitpack (the
        # encoder re-verifies over the full block and falls back);
        # zero-dense xor stream -> Gorilla-style xor_float (+zlib backstop)
        if stats.get("dec_scale", -1) >= 0:
            return "dec_scale"
        if stats.get("xor_zero_frac", 0.0) >= 0.25:
            return "xor_float"
        return "plain"
    if typ == "float_array":
        return "vec_plain"
    raise ValueError(f"unknown type {typ!r}")


def spark_type_name(dt) -> str:
    """Spark DataType -> our logical type name."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return "int64"
    if isinstance(dt, T.TimestampType):
        return "timestamp"
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp_ntz"
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return "double"
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.FloatType):
        return "float_array"
    raise ValueError(f"unsupported Spark type {dt!r}")
