"""The three workloads: ingest, serve and churn.

Every workload drives the engine only through its public operators,
from one driver thread with one closed-loop client: the next operation
is issued only after the previous one has returned and its result has
been materialised. Inputs come from `pages.pages_df(seed=<run seed>)`.

A workload has five phases:
  prepare  generate the source table and the oracle's facts (untimed)
  setup    build the store(s) the loop needs; repeated SETUP_REPS times
           and timed, the first build is the one the loop uses
  warm_up  one untimed, verified pass of the loop's op kinds
  loop     the measured closed loop, for the run's --seconds and at
           least the workload's minimum
  finish   end-of-run verification
and, in the traced run, a fixed read battery over the workload's store
that gives every workload the same exact per-layer counters.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from kmers_spark import manifest, pages
from kmers_spark.operators import agg as aggop
from kmers_spark.operators import decode as dec
from kmers_spark.operators import delete as delop
from kmers_spark.operators import encode as enc
from kmers_spark.operators import partitioning
from kmers_spark.operators import upsert as upop

import layers
from oracle import Oracle, generated_rows, host, logical_nbytes, row_id, spark_row, us_ts

SETUP_REPS = 3
SCALES = {
    "full": {"ingest_rows": 24_000, "serve_rows": 8_000, "churn_rows": 8_000,
             "buckets": 16, "churn_buckets": 8},
    # self-test smoke size
    "tiny": {"ingest_rows": 1_500, "serve_rows": 1_500, "churn_rows": 1_500,
             "buckets": 4, "churn_buckets": 4},
}
AGGS = [("count", "*"), ("min", "warc_ts"), ("max", "warc_ts")]
SCAN_LANG = "pl"
EXACT_MUTATIONS = 4    # churn: exact counters are taken after this many


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    account: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)


class Ctx:
    """Everything one run shares: session, work dir, seed, tracer,
    job accounting and the records the metrics are computed from."""

    def __init__(self, spark, work: str, seed: int, scale: str, tracer,
                 account, corrupt: bool, slots: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = SCALES[scale]
        self.tracer = tracer
        self.account = account
        self.corrupt = corrupt
        self.slots = slots
        self.oracle: Oracle | None = None  # set by Workload.prepare
        self.ops: list[Op] = []
        self.checks: list[tuple[str, bool]] = []
        self.setup_s: list[float] = []
        self.loop_s = 0.0                   # wall time of the measured loop
        self.encode_accounts: list[dict] = []
        self.bytes_written = 0
        self.user_bytes_written = 0
        self.exact: dict[str, float] = {}
        self._op_id = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, name: str, ok: bool) -> None:
        if not ok:
            print(f"# CHECK FAILED: {name}", file=sys.stderr)
        self.checks.append((name, bool(ok)))

    def run_op(self, kind: str, fn, verify) -> tuple[object, bool]:
        """One closed-loop operation: `fn()` is timed and must return a
        materialised result; `verify(result)` runs after the clock
        stops. An exception or a wrong result counts as a failed op."""
        self._op_id += 1
        group = self.account.begin()
        result, ok = None, None
        with self.tracer.operation(kind, self._op_id):
            t0 = time.perf_counter()
            try:
                result = fn()
            except Exception:  # the loop must go on; the op is counted as failed
                traceback.print_exc(file=sys.stderr)
                ok = False
            seconds = time.perf_counter() - t0
        acct = self.account.end(group)
        if ok is None:
            try:
                ok = bool(verify(result))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
        if not ok:
            print(f"# OP FAILED: {kind} #{self._op_id}", file=sys.stderr)
        self.ops.append(Op(kind, seconds, ok, acct, {"op_id": self._op_id}))
        return result, ok

    def encode(self, df, out_dir: str, **kw) -> dict:
        """A full-table encode_table call, spanned and (traced run)
        accounted; used by every store build."""
        group = self.account.begin()
        with self.tracer.span("operator.encode_table"):
            m = enc.encode_table(df, out_dir, **kw)
        acct = self.account.end(group)
        if acct:
            self.encode_accounts.append(acct)
        return m

    def decode_hash(self, out_dir: str, taint_url: str) -> tuple:
        """A full decode_table whose every decoded value feeds the
        verifier's order-insensitive hash: one pass that materialises
        the whole table, as a noop sink would, and yields what the
        source's hash is compared with."""
        with self.tracer.span("operator.decode_table"):
            return self.oracle.table_hash(dec.decode_table(self.spark, out_dir),
                                          taint_url)

    def check_store(self, what: str, out_dir: str, expected: tuple,
                    taint_url: str) -> None:
        """Untimed full-decode check of a store built during setup."""
        self.check(f"{what} decodes to the source",
                   self.decode_hash(out_dir, taint_url) == expected)


class State:
    """The expected content of a store: which source urls are live and
    at which re-crawl version (0 = as generated)."""

    def __init__(self, urls: list[str], seed: int):
        self.seed = seed
        self.version: dict[str, int | None] = {u: 0 for u in urls}
        self._generated: dict[int, tuple] = {}

    @staticmethod
    def recrawl(row: tuple, v: int) -> tuple:
        """Re-crawl `v` of a row: html gains a trailer, text a prefix."""
        if not v:
            return row
        url, ts, html, text, lang = row
        return (url, ts, html + f"<!--recrawl {v}-->".encode(),
                f"RECRAWL{v} " + (text or ""), lang)

    @staticmethod
    def recrawl_nbytes(v: int) -> int:
        """Logical bytes re-crawl `v` adds to a row."""
        return len(f"<!--recrawl {v}-->RECRAWL{v} ") if v else 0

    def generated(self, rid: int) -> tuple:
        if rid not in self._generated:
            self._generated.update(generated_rows([rid], self.seed))
        return self._generated[rid]

    def current(self, url: str) -> tuple | None:
        v = self.version.get(url)
        return None if v is None else self.recrawl(self.generated(row_id(url)), v)

    def expected_lookup(self, urls: list[str]) -> list[tuple]:
        return [r for r in (self.current(u) for u in dict.fromkeys(urls)) if r]

    def filter_rows(self, rows: frozenset) -> frozenset:
        out = set()
        for r in rows:
            v = self.version.get(r[0])
            if v is not None:
                out.add(self.recrawl(r, v))
        return frozenset(out)

    def live_urls(self) -> set[str]:
        return {u for u, v in self.version.items() if v is not None}


def ts_filters(lo_us: int, hi_us: int) -> list[tuple]:
    return [("warc_ts", ">=", us_ts(lo_us)), ("warc_ts", "<", us_ts(hi_us))]


def agg_expected(rows: frozenset) -> tuple:
    if not rows:
        return (0, None, None)
    ts = [r[1] for r in rows]
    return (len(rows), min(ts), max(ts))


class ReadPools:
    """Seeded read queries over one store and their expected answers:
    Zipf-hot present keys, absent keys that fall inside a stored key
    range, narrow warc_ts windows for scans and wider ones for
    aggregates. Expected answers come from DuckDB over the source."""

    def __init__(self, ctx: Ctx, oracle: Oracle, state: State, key_store: str,
                 n_rows: int, rng: np.random.Generator):
        self.state = state
        live = sorted(state.live_urls())
        pool = rng.permutation(len(live))[:256]
        self.hot = [live[i] for i in pool]
        w = 1.0 / np.arange(1, len(self.hot) + 1) ** 1.1
        self.hot_cdf = np.cumsum(w) / w.sum()
        self.absent = absent_in_range(key_store, n_rows, ctx.seed)
        lo, hi = oracle.ts_range()
        span = hi - lo
        self.windows = [(int(lo + f * span), int(lo + f * span + span // 100))
                        for f in rng.uniform(0.0, 0.99, 12)]
        self.aggs = [(int(lo + f * span), int(lo + f * span + span // 20))
                     for f in rng.uniform(0.0, 0.95, 16)]
        ts_where = "epoch_us(warc_ts) >= ? AND epoch_us(warc_ts) < ?"
        self._rows = {("lang", SCAN_LANG): oracle.rows_where("lang = ?", [SCAN_LANG])}
        for q in self.windows:
            self._rows[("ts", *q)] = oracle.rows_where(ts_where, list(q))
        for q in self.aggs:
            self._rows[("agg", *q)] = oracle.rows_where(ts_where, list(q))

    def hot_key(self, rng) -> str:
        return self.hot[int(np.searchsorted(self.hot_cdf, rng.random()))]

    def rows(self, *q) -> frozenset:
        """Expected rows of query q, as the store holds them now."""
        return self.state.filter_rows(self._rows[q])


def absent_in_range(store: str, n_rows: int, seed: int, want: int = 16) -> list[str]:
    """Urls the generator would emit for row ids past the table's end
    (so absent from it) whose own bucket's recorded key range contains
    them: range pruning cannot drop them, only the Bloom sidecar can."""
    m = manifest.load(store)
    ranges = m.get("bucket_key_ranges", {})
    hot = m.get("hot_keys") or {}
    scheme = m.get("bucket_scheme", partitioning.BUCKET_SCHEME)
    out = []
    cand = pages.generate_chunk(n_rows, 512, seed)["url"]
    for u in cand:
        b = partitioning.bucket_for_key(u, m["num_buckets"], hot, scheme=scheme)
        rng_ = ranges.get(str(b))
        if rng_ and rng_[0] <= u <= rng_[1]:
            out.append(u)
            if len(out) == want:
                break
    if not out:
        raise RuntimeError("no absent key falls inside a stored key range")
    return out


# ---------------------------------------------------------------- helpers

def generate_source(ctx: Ctx, name: str, n_rows: int) -> str:
    path = ctx.path(f"src_{name}")
    pages.pages_df(ctx.spark, n_rows, seed=ctx.seed, partitions=ctx.slots) \
        .write.parquet(path)
    return path


READ_KINDS = ["lookup_hit", "lookup_miss", "scan_lang", "scan_ts", "agg"]


def read_mix_op(ctx: Ctx, pools: ReadPools, kind: str, key_store: str,
                ts_store: str, rng) -> None:
    """One read op of `kind` with a seeded argument, verified against
    the pools' expected answers. Lookups and the lang scan run on the
    key-bucketed store, the warc_ts scan and the aggregate on
    `ts_store`."""
    spark = ctx.spark

    def collected(df_fn):
        return lambda: [spark_row(r) for r in df_fn().collect()]

    if kind in ("lookup_hit", "lookup_miss"):
        url = (pools.hot_key(rng) if kind == "lookup_hit"
               else pools.absent[int(rng.integers(len(pools.absent)))])
        result, _ok = ctx.run_op(
            kind, collected(lambda: dec.lookup_keys(spark, key_store, [url])),
            lambda got: ctx.oracle.check_rows(got, pools.state.expected_lookup([url])))
    elif kind == "scan_lang":
        result, _ok = ctx.run_op(
            kind, collected(lambda: dec.scan_table(spark, key_store,
                                                   [("lang", "=", SCAN_LANG)])),
            lambda got: ctx.oracle.check_rows(got, pools.rows("lang", SCAN_LANG)))
    elif kind == "scan_ts":
        q = pools.windows[int(rng.integers(len(pools.windows)))]
        result, _ok = ctx.run_op(
            kind, collected(lambda: dec.scan_table(spark, ts_store, ts_filters(*q))),
            lambda got: ctx.oracle.check_rows(got, pools.rows("ts", *q)))
    elif kind == "agg":
        q = pools.aggs[int(rng.integers(len(pools.aggs)))]
        result, _ok = ctx.run_op(
            kind, lambda: aggop.agg_table(spark, ts_store, AGGS, filters=ts_filters(*q)),
            lambda got: ctx.oracle.check_agg(got, agg_expected(pools.rows("agg", *q))))
    else:
        raise ValueError(kind)
    if ctx.ops[-1].ok:
        ctx.ops[-1].info["rows_returned"] = (
            result["count_star"] if kind == "agg" else len(result))


# -------------------------------------------------------------- workloads

class Workload:
    name = ""
    rows_key = ""
    # op kind -> the group its latency is reported under
    GROUPS: dict[str, str] = {}
    # kinds left out of the headline op_ms_p50
    HEADLINE_EXCLUDES: tuple[str, ...] = ()

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n_rows = ctx.scale[self.rows_key]

    def prepare(self) -> None:
        ctx = self.ctx
        t0 = time.perf_counter()
        self.src = generate_source(ctx, self.name, self.n_rows)
        self.gen_s = time.perf_counter() - t0
        self.oracle = ctx.oracle = Oracle(self.src, corrupt=ctx.corrupt)
        self.logical = self.oracle.logical_bytes()
        self.urls = self.oracle.urls()
        self.taint_url = min(self.urls)
        self.state = State(self.urls, ctx.seed)
        self.src_df = ctx.spark.read.parquet(self.src)
        # verifier's own answer for the source, computed once
        self.src_hash = self.oracle.table_hash(self.src_df)

    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def step(self) -> None:
        """One whole cycle of the loop's op sequence. The loop stops
        only between cycles, so every run measures the same mix and a
        run's throughput does not depend on where its time ran out."""
        raise NotImplementedError

    def finish(self) -> None:
        pass

    def minimum_met(self) -> bool:
        """True once the loop has done the least work the metrics need."""
        return True

    def begin_loop(self) -> None:
        """Restart the seeded op sequence, so that the traced run's
        untraced and traced loops issue the same operations."""

    def warm_up(self) -> None:
        """One untimed cycle (verified like any other): the first call
        of each kind pays one-off costs that would otherwise land on the
        loop's first samples."""
        self.begin_loop()
        self.step()

    def primary_store(self) -> str:
        raise NotImplementedError

    def stored_ratio(self) -> float:
        """Stored bytes per byte of logical user data the store holds."""
        return self.ctx.exact["stored_ratio"]

    def battery(self, rng) -> None:
        """Fixed seeded reads over the workload's store(s): four of each
        read kind, then one compact_waves."""
        ctx = self.ctx
        key_store, ts_store = self.battery_stores()
        pools = ReadPools(ctx, self.oracle, self.state, key_store, self.n_rows, rng)
        for kind in READ_KINDS:
            for _ in range(4):
                read_mix_op(ctx, pools, kind, key_store, ts_store, rng)
        self.compact(key_store)

    def battery_stores(self) -> tuple[str, str]:
        s = self.primary_store()
        return s, s

    def compact(self, store: str) -> None:
        ctx = self.ctx
        before = layers.file_sizes(store)
        ctx.run_op("compact", lambda: enc.compact_waves(ctx.spark, store),
                   lambda m: len(m["wave_dirs"]) == 1)
        written = sum(s for p, s in layers.file_sizes(store).items()
                      if p not in before)
        ctx.ops[-1].info["bytes_written"] = written


class Ingest(Workload):
    """Encode a freshly generated pages table (hash bucketing, skew
    detection), then fully decode it and verify every row. One loop
    round is two ops: the encode, then the verified full decode."""

    name = "ingest"
    rows_key = "ingest_rows"
    GROUPS = {"encode": "encode", "decode": "decode"}
    MIN_ROUNDS = 3

    def setup(self, rep: int) -> None:
        # warm start: ingest a 1/8 slice (the first build starts the
        # Python workers; the median of three is a warm one)
        ctx = self.ctx
        out = ctx.path(f"ingest_setup_{rep}")
        t0 = time.perf_counter()
        enc.encode_table(self.src_df.limit(max(self.n_rows // 8, 1)), out,
                         num_buckets=ctx.scale["buckets"], detect_skew=True)
        dec.decode_table(ctx.spark, out).write.format("noop").mode("overwrite").save()
        ctx.setup_s.append(time.perf_counter() - t0)
        shutil.rmtree(out)
        self.round = 0
        self.last = None

    def step(self) -> None:
        ctx = self.ctx
        self.round += 1
        out = ctx.path(f"ingest_{self.round}")
        _m, ok = ctx.run_op(
            "encode", lambda: ctx.encode(self.src_df, out,
                                         num_buckets=ctx.scale["buckets"],
                                         detect_skew=True),
            lambda m: m["num_buckets"] == ctx.scale["buckets"])
        if ok:
            ctx.run_op("decode", lambda: ctx.decode_hash(out, self.taint_url),
                       lambda got: got == self.src_hash)
        if os.path.isdir(out):
            ctx.bytes_written += sum(layers.file_sizes(out).values())
            ctx.user_bytes_written += self.logical
            if "stored_ratio" not in ctx.exact:
                ctx.exact["stored_ratio"] = layers.store_bytes(out) / self.logical
        if self.last:
            shutil.rmtree(self.last)
        self.last = out

    def minimum_met(self) -> bool:
        return self.round >= self.MIN_ROUNDS

    def primary_store(self) -> str:
        return self.last


class Serve(Workload):
    """Closed-loop read mix over a hash-bucketed store (key Bloom
    sidecars) and its twin range-clustered on warc_ts."""

    name = "serve"
    rows_key = "serve_rows"
    GROUPS = {"lookup_hit": "lookup", "lookup_miss": "lookup",
              "scan_lang": "scan", "scan_ts": "scan", "agg": "agg"}
    # one cycle, the same for every seed (only the arguments are
    # seeded): 4 lookups (1 of an absent key), 2 scans, 2 aggregates
    PATTERN = ["lookup_hit", "scan_lang", "agg", "lookup_hit",
               "lookup_miss", "scan_ts", "agg", "lookup_hit"]

    def setup(self, rep: int) -> None:
        ctx = self.ctx
        hashed, ranged = ctx.path(f"serve_hash_{rep}"), ctx.path(f"serve_rng_{rep}")
        t0 = time.perf_counter()
        ctx.encode(self.src_df, hashed, num_buckets=ctx.scale["buckets"],
                   detect_skew=True)
        ctx.encode(self.src_df, ranged, num_buckets=ctx.scale["buckets"],
                   detect_skew=False, cluster_by="warc_ts")
        ctx.setup_s.append(time.perf_counter() - t0)
        if rep:
            shutil.rmtree(hashed)
            shutil.rmtree(ranged)
            return
        self.hashed, self.ranged = hashed, ranged
        ctx.check_store("serve hash store", hashed, self.src_hash, self.taint_url)
        ctx.check_store("serve clustered store", ranged, self.src_hash, self.taint_url)
        ctx.exact["stored_ratio"] = (layers.store_bytes(hashed)
                                     + layers.store_bytes(ranged)) / (2 * self.logical)
        self.pools = ReadPools(ctx, self.oracle, self.state, hashed,
                               self.n_rows, np.random.default_rng(ctx.seed + 1))

    def begin_loop(self) -> None:
        self.mix_rng = np.random.default_rng(self.ctx.seed + 2)

    def step(self) -> None:
        for kind in self.PATTERN:
            read_mix_op(self.ctx, self.pools, kind, self.hashed, self.ranged,
                        self.mix_rng)

    def warm_up(self) -> None:
        """One untimed call of each read kind."""
        self.begin_loop()
        for kind in READ_KINDS:
            read_mix_op(self.ctx, self.pools, kind, self.hashed, self.ranged,
                        self.mix_rng)

    def primary_store(self) -> str:
        return self.hashed

    def battery_stores(self) -> tuple[str, str]:
        return self.hashed, self.ranged


class Churn(Workload):
    """Reads beside writes. One cycle: a bucket-local re-crawl upsert,
    a scattered delete touching every bucket, a lookup of the touched
    keys after each, then compact_waves."""

    name = "churn"
    rows_key = "churn_rows"
    GROUPS = {"upsert": "mutate", "delete": "mutate", "compact": "mutate",
              "lookup_upserted": "lookup", "lookup_deleted": "lookup"}
    # compact_waves finds one wave and returns at once: every upsert and
    # delete rewrites the waves it touches into a single new one
    HEADLINE_EXCLUDES = ("compact",)
    LOOKUP_AFTER = {"upsert": "lookup_upserted", "delete": "lookup_deleted"}

    def setup(self, rep: int) -> None:
        ctx = self.ctx
        store = ctx.path(f"churn_{rep}")
        t0 = time.perf_counter()
        m = ctx.encode(self.src_df, store, num_buckets=ctx.scale["churn_buckets"],
                       detect_skew=True)
        ctx.setup_s.append(time.perf_counter() - t0)
        if rep:
            shutil.rmtree(store)
            return
        self.store = store
        ctx.check_store("churn store", store, self.src_hash, self.taint_url)
        hot = m.get("hot_keys") or {}
        scheme = m.get("bucket_scheme", partitioning.BUCKET_SCHEME)
        self.bucket_of = {u: partitioning.bucket_for_key(u, m["num_buckets"], hot,
                                                         scheme=scheme)
                          for u in self.urls}
        by_host: dict[str, list[str]] = {}
        for u in self.urls:
            by_host.setdefault(host(u), []).append(u)
        # re-crawl targets: unsalted hosts, so a batch stays in one bucket
        self.hosts = sorted(h for h, us in by_host.items()
                            if h not in hot and 2 <= len(us) <= 64)
        self.by_host = by_host
        self.nbytes = self.oracle.row_nbytes()
        self.mutations = 0
        self.version = 0
        self.rewritten: dict[str, list[int]] = {"upsert": [], "delete": []}

    def _written(self, before: dict[str, int]) -> int:
        return sum(s for p, s in layers.file_sizes(self.store).items()
                   if p not in before)

    def step(self) -> None:
        for kind in ("upsert", "delete", "compact"):
            self._mutate(kind)

    def _mutate(self, kind: str) -> None:
        ctx = self.ctx
        before = layers.file_sizes(self.store)
        if kind == "upsert":
            touched, user = self._upsert()
        elif kind == "delete":
            touched, user = self._delete()
        else:
            self.compact(self.store)
            touched, user = [], 0
        self.mutations += 1
        # exact counters: taken over the first EXACT_MUTATIONS mutations,
        # the same seeded ones in every run of a seed
        if self.mutations <= EXACT_MUTATIONS:
            written = self._written(before)
            ctx.bytes_written += written
            ctx.user_bytes_written += user
            if kind == "compact":
                ctx.exact["compact.bytes_rewritten"] = \
                    ctx.exact.get("compact.bytes_rewritten", 0) + written
        if self.mutations == EXACT_MUTATIONS:
            live = sum(self.nbytes[u] + State.recrawl_nbytes(v)
                       for u, v in self.state.version.items() if v is not None)
            ctx.exact["stored_ratio"] = layers.store_bytes(self.store) / live
            for k, v in self.rewritten.items():
                ctx.exact[f"{k}.buckets_rewritten"] = (
                    statistics.fmean(v) if v else 0.0)
        if touched:
            ctx.run_op(self.LOOKUP_AFTER[kind], lambda: [
                spark_row(r) for r in
                dec.lookup_keys(ctx.spark, self.store, touched).collect()],
                lambda got: self.oracle.check_rows(
                    got, self.state.expected_lookup(touched)))

    def minimum_met(self) -> bool:
        return self.mutations >= EXACT_MUTATIONS

    def begin_loop(self) -> None:
        self.mut_rng = np.random.default_rng(self.ctx.seed + 3)

    def _upsert(self) -> tuple[list[str], int]:
        ctx = self.ctx
        self.version += 1
        v = self.version
        h = self.hosts[int(self.mut_rng.integers(len(self.hosts)))]
        urls = sorted(self.by_host[h])
        rows = [State.recrawl(self.state.generated(row_id(u)), v) for u in urls]
        pdf = pd.DataFrame({
            "url": [r[0] for r in rows],
            "warc_ts": pd.to_datetime([r[1] for r in rows], unit="us"),
            "html": [r[2] for r in rows],
            "text": [r[3] for r in rows],
            "lang": [r[4] for r in rows],
        })
        batch = ctx.spark.createDataFrame(pdf, pages.SCHEMA)
        res, ok = ctx.run_op(
            "upsert", lambda: upop.upsert_table(ctx.spark, self.store, batch),
            lambda r: r["rows_inserted"] == len(rows))
        if ok:
            self.rewritten["upsert"].append(len(res["buckets_rewritten"]))
        for u in urls:
            self.state.version[u] = v
        return urls, sum(logical_nbytes(r) for r in rows)

    def _delete(self) -> tuple[list[str], int]:
        """One live key from every bucket: about 0.05% of the keys at
        the benchmark's store size, and every bucket is touched."""
        ctx = self.ctx
        live_by_bucket: dict[int, list[str]] = {}
        for u, ver in self.state.version.items():
            if ver is not None:
                live_by_bucket.setdefault(self.bucket_of[u], []).append(u)
        keys = sorted(
            us[int(self.mut_rng.integers(len(us)))]
            for _b, us in sorted(live_by_bucket.items()))
        user = sum(logical_nbytes(self.state.current(u)) for u in keys)
        res, ok = ctx.run_op(
            "delete", lambda: delop.delete_keys(ctx.spark, self.store, keys),
            lambda r: r["rows_deleted"] == len(keys))
        if ok:
            self.rewritten["delete"].append(len(res["buckets_rewritten"]))
        for u in keys:
            self.state.version[u] = None
        return keys, user

    def finish(self) -> None:
        ctx = self.ctx
        got = [r["url"] for r in
               dec.decode_table(ctx.spark, self.store, columns=["url"]).collect()]
        live = self.state.live_urls()
        if ctx.corrupt and got:
            got = got[1:]
        ctx.check("churn: live key set after the run",
                  len(got) == len(live) and set(got) == live)

    def primary_store(self) -> str:
        return self.store


WORKLOADS = {"ingest": Ingest, "serve": Serve, "churn": Churn}
