"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload {ingest,serve,churn} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Spark runs in local mode with one task
slot per available core. Everything the run writes goes under
.perfbench_work/ in the current directory; the run's store directories
are removed at the end and only the span dump of a traced run is kept.
Compare runs only at the same --seconds: BENCHMARK.json's run_seconds.

The last stdout line is one JSON object:
    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}
with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1), each as {"value": number, "unit": str}.
Lines before it start with '#' and carry the run's details: latencies
per operation kind, the workload's own figures with their sample
counts, phase times and the host state.

--scale tiny and --corrupt-one-value exist for the self-test
(perfbench/selftest.py): a smoke-sized input, and a deliberately wrong
value injected on the verifier's side.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
MIN_P90_SAMPLES = 100  # at least 10 samples lie beyond the p90


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["ingest", "serve", "churn"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full")
    p.add_argument("--corrupt-one-value", action="store_true")
    return p.parse_args(argv)


def prepare_environment(work: Path, trace: bool) -> int:
    """Point every temp/scratch location of Python, the JVM and Spark
    into `work`; returns the number of task slots."""
    slots = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update({
        "TZ": "UTC",  # collected timestamps come back as naive UTC
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--conf spark.local.dir={work / 'spark-local'}",
            f"--conf spark.sql.warehouse.dir={work / 'warehouse'}",
            "--conf spark.ui.showConsoleProgress=false",
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            f" -Dderby.system.home={work}'",
            "pyspark-shell",
        ]),
    })
    time.tzset()
    return slots


def quantile(values: list[float], q: int) -> float:
    """q-th decile (q=5 median, q=9 p90) as statistics.quantiles gives it."""
    if len(values) == 1:
        return values[0]
    return statistics.median(values) if q == 5 else \
        statistics.quantiles(values, n=10)[q - 1]


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def by_group(wl, ops) -> dict[str, list[float]]:
    """Loop latencies (ms) grouped as the workload reports them."""
    out: dict[str, list[float]] = {}
    for op in ops:
        out.setdefault(wl.GROUPS[op.kind], []).append(1000 * op.seconds)
    return out


def end_to_end(ctx, wl, loop_ops) -> dict[str, tuple[float, str]]:
    """The metrics BENCHMARK.json bounds: the same four on every
    workload, so that each has a value wherever it is reported.
    op_ms_p50 is the geometric mean, over the workload's op kinds, of
    each kind's median latency: every kind weighs the same whatever
    the mix, and no median is taken across kinds of very different
    cost (churn's lookups of upserted and of deleted keys are two
    kinds)."""
    kinds: dict[str, list[float]] = {}
    for op in loop_ops:
        if op.kind not in wl.HEADLINE_EXCLUDES:
            kinds.setdefault(op.kind, []).append(1000 * op.seconds)
    return {
        "setup_s": (statistics.median(ctx.setup_s), "s"),
        "ops_per_s": (sum(op.ok for op in loop_ops) / ctx.loop_s, "1/s"),
        "op_ms_p50": (geomean([statistics.median(v) for v in kinds.values()]), "ms"),
        "stored_ratio": (wl.stored_ratio(), "ratio"),
    }


def workload_metrics(ctx, wl, loop_ops, rss_mb, attempted, failed) -> list[tuple]:
    """The workload's own end-to-end figures, printed as '#' lines:
    (name, value, unit, note). Percentiles carry their sample count."""
    import workloads

    out = [("setup_s", statistics.median(ctx.setup_s), "s", ""),
           ("failed_op_ratio", failed / attempted, "ratio", f"{failed}/{attempted}"),
           ("peak_rss_mb", rss_mb, "MB", "driver + JVM + Python workers")]
    groups = by_group(wl, loop_ops)
    if wl.name == "ingest":
        mb = wl.logical / 1e6
        for kind in ("encode", "decode"):
            out.append((f"{kind}_mb_s", mb / (statistics.median(groups[kind]) / 1e3),
                        "MB/s", f"median of n={len(groups[kind])}"))
    else:
        out.append(("ops_per_s", sum(op.ok for op in loop_ops) / ctx.loop_s, "1/s",
                    f"{len(loop_ops)} ops in {ctx.loop_s:.1f}s"))
        for group, lat in sorted(groups.items()):
            note = f"n={len(lat)}" + ("" if len(lat) >= MIN_P90_SAMPLES else
                                      f", below {MIN_P90_SAMPLES}: p90 indicative only")
            out.append((f"{group}_ms_p50", quantile(lat, 5), "ms", note))
            out.append((f"{group}_ms_p90", quantile(lat, 9), "ms", note))
    if wl.name in ("ingest", "churn"):
        out.append(("stored_ratio", wl.stored_ratio(), "ratio", ""))
    if wl.name == "churn":
        out.append(("write_amp", ctx.bytes_written / ctx.user_bytes_written, "ratio",
                    f"first {workloads.EXACT_MUTATIONS} mutations"))
    return out


def per_layer(ctx, wl, untraced_ops, rng) -> dict[str, tuple[float, str]]:
    import layers
    import workloads

    tr = ctx.tracer
    store = wl.primary_store()
    out: dict[str, tuple[float, str]] = {}
    from kmers_spark import manifest

    buckets = layers.sample_buckets(wl.src, store, rng)
    codec, errors = layers.replay_codecs(
        buckets, manifest.ordered_schema(manifest.load(store)), rng)
    for e in errors:
        ctx.check(e, False)
    for name, v in codec.items():
        out[name] = (v, "ratio" if name.startswith("selector.size_regret") else "s")
    for col, r in layers.codec_ratio(store).items():
        out[f"codec.ratio.{col}"] = (r, "ratio")
    rows = list(layers.bucket_rows(store).values())
    out["partitioning.bucket_rows_max_over_mean"] = (
        max(rows) / statistics.fmean(rows), "ratio")

    accts = ctx.encode_accounts
    out["encode.task_s_max_over_p50"] = (statistics.median(
        max(a["heaviest_task_ms"]) / statistics.median(a["heaviest_task_ms"])
        for a in accts), "ratio")
    out["encode.stage_run_s"] = (statistics.median(a["run_ms"] for a in accts) / 1e3, "s")
    out["encode.shuffle_write_mb"] = (statistics.median(
        a["shuffle_write_bytes"] for a in accts) / 1e6, "MB")
    out["encode.spill_mb"] = (statistics.median(a["spill_bytes"] for a in accts) / 1e6, "MB")

    for name in ("manifest.load", "manifest.block_stats", "manifest.commit",
                 "zonemap.prune", "bloom.probe"):
        out[f"{name}_ms"] = (tr.layer_ms(name), "ms")
    out["manifest.wave_dirs"] = (len(manifest.load(store)["wave_dirs"]), "count")

    battery = [op for op in ctx.ops if op.info.get("battery")]
    spans = [s for s in tr.spans if s.op in {op.info["op_id"] for op in battery}]
    kept = [s.attrs["kept"] / s.attrs["total"] for s in spans if s.name == "zonemap.prune"]
    out["zonemap.buckets_kept_ratio"] = (statistics.fmean(kept), "ratio")
    cand = sum(s.attrs["in"] for s in spans if s.name == "bloom.probe")
    dropped = sum(s.attrs["in"] - s.attrs["out"] for s in spans if s.name == "bloom.probe")
    out["bloom.buckets_dropped_ratio"] = (dropped / cand if cand else 0.0, "ratio")
    committed = len(manifest.load(store)["committed_buckets"])
    for kind in workloads.READ_KINDS:
        ops = [op for op in battery if op.kind == kind]
        out[f"decode.spark_jobs_per_op.{kind}"] = (
            statistics.fmean(op.account["jobs"] for op in ops), "count")
        out[f"decode.payload_mb_read_per_op.{kind}"] = (
            statistics.fmean(op.account["input_bytes"] for op in ops) / 1e6, "MB")
        decoded = sum(op.info["rows_decoded"] for op in ops)
        returned = sum(op.info["rows_returned"] for op in ops)
        out[f"decode.rows_decoded_per_row_returned.{kind}"] = (
            decoded / max(returned, 1), "ratio")
    agg_ops = [op for op in battery if op.kind == "agg"]
    out["agg.buckets_decoded_ratio"] = (statistics.fmean(
        op.info["buckets_decoded"] for op in agg_ops) / committed, "ratio")
    for k in ("delete", "upsert"):
        out[f"{k}.buckets_rewritten"] = (ctx.exact.get(f"{k}.buckets_rewritten", 0.0),
                                         "count")
    compacts = [op for op in ctx.ops if op.kind == "compact"]
    out["compact.s"] = (statistics.fmean(op.seconds for op in compacts), "s")
    out["compact.bytes_rewritten"] = (
        ctx.exact.get("compact.bytes_rewritten",
                      statistics.fmean(op.info["bytes_written"] for op in compacts)),
        "bytes")
    # both loops issue the same op sequence: compare it pairwise
    traced = [op.seconds for op in ctx.ops if not op.info.get("battery")]
    k = min(len(traced), len(untraced_ops))
    out["trace.overhead_pct"] = (
        100.0 * (sum(traced[:k]) / sum(untraced_ops[:k]) - 1.0), "%")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "kmers_spark").is_dir():
        print(f"perfbench: no kmers_spark/ package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    base = Path.cwd() / ".perfbench_work"
    work = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    slots = prepare_environment(work, bool(args.trace))

    import numpy as np

    import procstat
    import tracing
    import workloads
    from kmers_spark import hostcheck

    host_start = hostcheck.probe()
    host_start["cpu_jiffies"] = procstat.cpu_jiffies()
    rss = procstat.PeakRss().start()
    spark = None
    code = 1
    try:
        from kmers_spark.session import get_spark

        spark = get_spark("perfbench", master=f"local[{slots}]")
        spark.sparkContext.setLogLevel("ERROR")
        tracer = tracing.Tracer(enabled=bool(args.trace))
        account = tracing.JobAccount(spark) if args.trace else tracing.NoAccount()
        ctx = workloads.Ctx(spark, str(work), args.seed, args.scale, tracer,
                            account, args.corrupt_one_value, slots)
        wl = workloads.WORKLOADS[args.workload](ctx)
        code = run(args, ctx, wl, rss, host_start, base, np.random.default_rng(args.seed + 7))
    finally:
        if spark is not None:
            stop_spark(spark)
        rss.stop()
        procstat.reap_children()
        shutil.rmtree(work, ignore_errors=True)
    return code


def run(args, ctx, wl, rss, host_start, base: Path, rng) -> int:
    import layers
    import procstat
    import workloads
    from kmers_spark import hostcheck

    tracer = ctx.tracer
    phases = [("start", time.perf_counter())]
    wl.prepare()
    phases.append(("prepare", time.perf_counter()))
    if args.trace:
        layers.install_spans(tracer)
    for rep in range(workloads.SETUP_REPS):
        wl.setup(rep)
    phases.append(("setup", time.perf_counter()))
    wl.warm_up()
    phases.append(("warm_up", time.perf_counter()))

    untraced: list[float] = []
    if args.trace:
        # reference loop with tracing off: the overhead baseline
        tracer.unwrap_all()
        tracer.enabled = False
        n0 = len(ctx.ops)
        loop(ctx, wl, args.seconds)
        untraced = [op.seconds for op in ctx.ops[n0:]]
        del ctx.ops[n0:]
        tracer.enabled = True
        layers.install_spans(tracer)
    n0 = len(ctx.ops)
    loop(ctx, wl, args.seconds)
    loop_ops = ctx.ops[n0:]
    phases.append(("loop", time.perf_counter()))
    wl.finish()
    rss.stop()
    if args.trace:
        n0 = len(ctx.ops)
        wl.battery(rng)
        for op in ctx.ops[n0:]:
            op.info["battery"] = True
        layers.annotate_decodes(ctx.ops[n0:], tracer.spans)
        metrics = per_layer(ctx, wl, untraced, rng)
        tracer.unwrap_all()
    else:
        metrics = end_to_end(ctx, wl, loop_ops)
    host_end = hostcheck.probe()
    (steal0, total0), (steal1, total1) = host_start.pop("cpu_jiffies"), procstat.cpu_jiffies()
    host_end["cpu_steal_pct"] = round(100 * (steal1 - steal0) / max(total1 - total0, 1), 2)
    phases.append(("report", time.perf_counter()))
    print("# phase seconds: " + ", ".join(
        f"{name} {t - t0:.1f}" for (_n, t0), (name, t) in zip(phases, phases[1:])))

    attempted = len(ctx.ops) + len(ctx.checks)
    failed = sum(not op.ok for op in ctx.ops) + sum(not ok for _n, ok in ctx.checks)
    report_details(ctx, loop_ops, wl, host_start, host_end,
                   workload_metrics(ctx, wl, loop_ops, rss.peak_mb, attempted, failed))
    if args.trace:
        (base / "traces").mkdir(parents=True, exist_ok=True)
        path = base / "traces" / f"{args.workload}-seed{args.seed}-{int(time.time())}.json"
        tracer.dump(str(path), {"workload": args.workload, "seed": args.seed,
                                "host_start": host_start, "host_end": host_end})
        print(f"# spans written to {path}")
    sys.stdout.flush()
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def loop(ctx, wl, seconds: float) -> None:
    """The closed loop: issue the next op when the last one is done,
    until `seconds` have passed and the workload's minimum is met.
    Sets ctx.loop_s to the loop's wall time."""
    wl.begin_loop()
    t0 = time.perf_counter()
    t_end = t0 + seconds
    while time.perf_counter() < t_end or not wl.minimum_met():
        wl.step()
    ctx.loop_s = time.perf_counter() - t0


def report_details(ctx, loop_ops, wl, host_start, host_end, figures) -> None:
    by_kind: dict[str, list[float]] = {}
    for op in loop_ops:
        by_kind.setdefault(op.kind, []).append(1000 * op.seconds)
    for kind, lat in sorted(by_kind.items()):
        print(f"# op {kind}: n={len(lat)} ms={[round(x) for x in lat]}")
    for name, value, unit, note in figures:
        print(f"# {wl.name} {name} = {value:.6g} {unit}" + (f" ({note})" if note else ""))
    print(f"# setup_s samples: {[round(s, 3) for s in ctx.setup_s]};"
          f" source generation {wl.gen_s:.2f}s for {wl.n_rows} rows,"
          f" {wl.logical / 1e6:.2f} MB logical")
    print(f"# host at start: {json.dumps(host_start)}")
    print(f"# host at end: {json.dumps(host_end)}")
    if not (host_start["healthy"] and host_end["healthy"]):
        msg = ("# WARNING: host in a degraded first-touch-memory window during this"
               " run (see BENCH/ROUND5.md); its timings are not comparable")
        print(msg)
        print(msg, file=sys.stderr)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close() if proc.stdin else None
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
