"""Expected results, computed independently of the engine.

* Source facts (logical bytes, urls, scan and aggregate answers) come
  from DuckDB over the source parquet the workload generated.
* A point lookup's expected row is regenerated with
  `pages.generate_chunk(row_id, 1, seed)`: the row id is the last url
  path segment.
* A full decode is checked against the source by an order-insensitive
  hash of every row (count, sum and xor of xxhash64 over all columns),
  both sides computed by Spark.

`corrupt=True` alters one decoded value on the verifier's side before
every comparison; the self-test uses it to prove that a wrong answer
is counted as a failed operation.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import numpy as np

from kmers_spark import pages

EPOCH = dt.datetime(1970, 1, 1)
ONE_US = dt.timedelta(microseconds=1)
COLS = ["url", "warc_ts", "html", "text", "lang"]


def ts_us(value: dt.datetime) -> int:
    """Naive UTC datetime -> epoch microseconds, exactly."""
    return (value - EPOCH) // ONE_US


def us_ts(us: int) -> dt.datetime:
    return EPOCH + dt.timedelta(microseconds=int(us))


def row_id(url: str) -> int:
    return int(url.rsplit("/", 1)[1])


def host(url: str) -> str:
    return url.split("/", 3)[2]


def logical_nbytes(row: tuple) -> int:
    """User bytes of one (url, ts_us, html, text, lang) row: string and
    binary payload bytes plus 8 bytes of timestamp."""
    url, _ts, html, text, lang = row
    return (len(url.encode()) + 8 + len(html)
            + (len(text.encode()) if text is not None else 0)
            + len(lang.encode()))


def generated_rows(row_ids, seed: int) -> dict[int, tuple]:
    """row id -> the (url, ts_us, html, text, lang) row the generator
    emits for it."""
    out = {}
    for rid in row_ids:
        pdf = pages.generate_chunk(int(rid), 1, seed)
        out[int(rid)] = (
            pdf["url"][0],
            int(pdf["warc_ts"].values.astype("datetime64[us]").astype(np.int64)[0]),
            bytes(pdf["html"][0]),
            pdf["text"][0],
            pdf["lang"][0],
        )
    return out


def spark_row(r) -> tuple:
    """Collected Spark Row -> comparable tuple (session tz is UTC and the
    process runs with TZ=UTC, so collected datetimes are naive UTC)."""
    return (r["url"], ts_us(r["warc_ts"]), bytes(r["html"]), r["text"], r["lang"])


class Oracle:
    def __init__(self, src_dir: str, corrupt: bool = False):
        self.corrupt = corrupt
        self.db = duckdb.connect(config={"threads": 2, "memory_limit": "512MB"})
        self.db.execute(
            f"CREATE VIEW src AS SELECT * FROM read_parquet('{src_dir}/*.parquet')")

    def close(self) -> None:
        self.db.close()

    def logical_bytes(self) -> int:
        return int(self.db.execute(
            "SELECT sum(strlen(url) + 8 + octet_length(html)"
            " + coalesce(strlen(text), 0) + strlen(lang)) FROM src"
        ).fetchone()[0])

    def urls(self) -> list[str]:
        return [r[0] for r in self.db.execute("SELECT url FROM src").fetchall()]

    def row_nbytes(self) -> dict[str, int]:
        """url -> logical bytes of its row (see logical_nbytes)."""
        return dict(self.db.execute(
            "SELECT url, strlen(url) + 8 + octet_length(html)"
            " + coalesce(strlen(text), 0) + strlen(lang) FROM src").fetchall())

    def ts_range(self) -> tuple[int, int]:
        lo, hi = self.db.execute(
            "SELECT min(epoch_us(warc_ts)), max(epoch_us(warc_ts)) FROM src"
        ).fetchone()
        return int(lo), int(hi)

    def rows_where(self, where: str, params: list) -> frozenset:
        return frozenset(
            (u, int(t), bytes(h), x, g)
            for u, t, h, x, g in self.db.execute(
                "SELECT url, epoch_us(warc_ts), html, text, lang FROM src "
                f"WHERE {where}", params).fetchall()
        )

    def ts_window_agg(self, lo_us: int, hi_us: int) -> tuple:
        n, mn, mx = self.db.execute(
            "SELECT count(*), min(epoch_us(warc_ts)), max(epoch_us(warc_ts)) "
            "FROM src WHERE epoch_us(warc_ts) >= ? AND epoch_us(warc_ts) < ?",
            [lo_us, hi_us]).fetchone()
        return (int(n), mn, mx)

    # --- verifiers: each returns True when the engine's answer is right

    def _taint(self, rows: list[tuple]) -> list[tuple]:
        if not self.corrupt or not rows:
            return rows
        url, ts, html, text, lang = rows[0]
        return [(url, ts, html, text, lang + "#"), *rows[1:]]

    def check_rows(self, got: list[tuple], expected) -> bool:
        got = self._taint(got)
        return len(got) == len(expected) and set(got) == set(expected)

    def check_agg(self, got: dict, expected: tuple) -> bool:
        n, mn, mx = expected
        g_min, g_max = got["min_warc_ts"], got["max_warc_ts"]
        res = (got["count_star"],
               None if g_min is None else ts_us(g_min),
               None if g_max is None else ts_us(g_max))
        if self.corrupt:
            res = (res[0] + 1, *res[1:])
        return res == (n, mn, mx)

    def table_hash(self, df, taint_url: str | None = None) -> tuple:
        """(rows, sum, xor) of xxhash64 over every column of df; with
        corrupt=True, `taint_url`'s lang is altered first."""
        from pyspark.sql import functions as F

        if self.corrupt and taint_url is not None:
            df = df.withColumn("lang", F.when(
                F.col("url") == taint_url, F.concat(F.col("lang"), F.lit("#"))
            ).otherwise(F.col("lang")))
        h = F.xxhash64(*[F.col(c) for c in COLS])
        r = df.select(h.alias("h")).agg(
            F.count("*").alias("n"),
            F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
            F.bit_xor("h").alias("x"),
        ).collect()[0]
        return (int(r["n"]), int(r["s"] or 0), int(r["x"] or 0))
