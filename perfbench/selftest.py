"""Self-test of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py [workload ...]

Runs every workload (or the ones named) at smoke size (--scale tiny) from the repository
root and asserts that:
  * an untraced run prints every end-to-end metric of BENCHMARK.json
    with its unit, and the workload's own figures as '#' lines; a
    traced run prints every per-layer metric;
  * all operations verify (failed == 0) on the current engine;
  * the exact counters repeat exactly for a fixed seed;
  * a decoded value corrupted on the verifier's side
    (--corrupt-one-value) drives failed_op_ratio above 0.
Takes about 12 minutes; exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SEED = 5
SECONDS = "3"
# counters that must repeat exactly for a fixed seed
EXACT_FIGURES = ["stored_ratio", "write_amp"]
# the workload's own figures, printed as '# <workload> <name> = ...'
FIGURES = {
    "ingest": ["encode_mb_s", "decode_mb_s", "stored_ratio"],
    "serve": ["ops_per_s", "lookup_ms_p50", "lookup_ms_p90", "scan_ms_p50",
              "scan_ms_p90", "agg_ms_p50", "agg_ms_p90"],
    "churn": ["ops_per_s", "lookup_ms_p50", "lookup_ms_p90", "mutate_ms_p50",
              "mutate_ms_p90", "stored_ratio", "write_amp"],
}
COMMON_FIGURES = ["setup_s", "failed_op_ratio", "peak_rss_mb"]
EXACT_LAYER_PREFIXES = [
    "zonemap.buckets_kept_ratio", "decode.spark_jobs_per_op.",
    "delete.buckets_rewritten", "upsert.buckets_rewritten",
]


def run(workload: str, trace: int, *extra: str) -> dict:
    """The run's result line, plus its '# <workload> <name> = <value>
    <unit>' figures under "figures" as {name: (value, unit)}."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(SEED), "--seconds", SECONDS, "--trace", str(trace),
           "--scale", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise AssertionError(f"{' '.join(cmd)} exited {p.returncode}")
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    res["figures"] = {}
    for line in lines[:-1]:
        words = line.split()
        if len(words) >= 6 and words[:2] == ["#", workload] and words[3] == "=":
            res["figures"][words[2]] = (float(words[4]), words[5])
    return res


def check_metrics(res: dict, spec: list[dict], what: str) -> None:
    got = res["metrics"]
    want = {m["name"]: m["unit"] for m in spec}
    assert set(got) == set(want), (
        f"{what}: missing {sorted(set(want) - set(got))},"
        f" unexpected {sorted(set(got) - set(want))}")
    for name, unit in want.items():
        assert got[name]["unit"] == unit, f"{what}: {name} unit {got[name]['unit']}"
        assert isinstance(got[name]["value"], (int, float)), f"{what}: {name}"


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    # every workload run.py offers, gated in BENCHMARK.json or not
    for wl in sys.argv[1:] or list(FIGURES):
        plain = run(wl, 0)
        check_metrics(plain, bench["end_to_end"], f"{wl} untraced")
        missing = set(COMMON_FIGURES + FIGURES[wl]) - set(plain["figures"])
        assert not missing, f"{wl}: figures not printed: {sorted(missing)}"
        assert plain["correct"] and plain["failed"] == 0, f"{wl}: {plain}"

        bad = run(wl, 0, "--corrupt-one-value")
        assert bad["failed"] / bad["attempted"] > 0, f"{wl}: corruption not caught"
        assert bad["figures"]["failed_op_ratio"][0] > 0, f"{wl}: failed_op_ratio is 0"
        for name in EXACT_FIGURES:
            if name in plain["figures"]:
                a, b = plain["figures"][name][0], bad["figures"][name][0]
                assert a == b, f"{wl}: {name} not exact: {a} != {b}"

        t1, t2 = run(wl, 1), run(wl, 1)
        check_metrics(t1, bench["per_layer"], f"{wl} traced")
        assert t1["correct"] and t2["correct"], f"{wl}: traced run failed an op"
        for name, v in t1["metrics"].items():
            if any(name.startswith(p) for p in EXACT_LAYER_PREFIXES):
                other = t2["metrics"][name]["value"]
                assert v["value"] == other, f"{wl}: {name} not exact: {v['value']} != {other}"
        print(f"{wl}: ok (failed_op_ratio with a corrupted value:"
              f" {bad['failed']}/{bad['attempted']})", flush=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
