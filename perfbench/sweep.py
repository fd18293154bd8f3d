"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/sweep.py --workload curation --seeds 1-5
    python3 perfbench/sweep.py --workload all --seeds 1-10

For every end-to-end metric it prints the median over the runs, the
interquartile distance as a share of the median (``statistics.quantiles``,
n=4) and that spread as a share of the metric's bound in BENCHMARK.json.
It also prints the share of CPU time the hypervisor stole during each run
and checks that the oracle-less keys return the same answer under
every seed.  Runs are sequential; each is a fresh process.  ``--out DIR``
keeps each run's info and result lines as ``DIR/<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
from workloads import END_TO_END, WORKLOADS  # noqa: E402


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def _cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def sweep(workload: str, seeds: list[int], seconds: str, out_dir: str | None) -> bool:
    values: dict[str, list[float]] = {m.name: [] for m in END_TO_END}
    folds: dict[str, set[str]] = {}
    ok = True
    for seed in seeds:
        cmd = [
            sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
            "--seed", str(seed), "--seconds", seconds, "--trace", "0",
        ]
        before = _cpu_times()
        done = subprocess.run(cmd, capture_output=True, text=True, check=False)
        ticks = [b - a for a, b in zip(before, _cpu_times())]
        steal = ticks[7] / max(sum(ticks), 1)  # time the hypervisor gave elsewhere
        lines = done.stdout.strip().splitlines()
        if done.returncode != 0 or len(lines) < 2:
            print(f"{workload} seed {seed}: exit {done.returncode}\n{done.stderr[-2000:]}")
            ok = False
            continue
        info, result = json.loads(lines[-2]), json.loads(lines[-1])
        if out_dir:
            with open(os.path.join(out_dir, f"{workload}-{seed}.json"), "w") as f:
                json.dump({"info": info, "result": result}, f)
        ok &= result["correct"]
        for name, m in result["metrics"].items():
            values[name].append(m["value"])
        for key, h in info["folds"].items():
            folds.setdefault(key, set()).add(h)
        print(f"{workload} seed {seed}: run {info['run_s']:.1f} s, steal {steal:.1%}, "
              f"correct={result['correct']}, "
              + ", ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
              flush=True)
    for m in END_TO_END:
        xs = values[m.name]
        if len(xs) < 2:
            continue
        sp = stats.spread(xs)
        print(f"  {m.name:<14} median {stats.median(xs):10.4f} {m.unit:<3} "
              f"spread {sp:6.2%}  ({sp / m.bound:5.2f} of bound {m.bound})")
    for key, hashes in sorted(folds.items()):
        same = len(hashes) == 1
        ok &= same
        print(f"  {key}: {'same answer under every seed' if same else 'ANSWER DEPENDS ON SEED'}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seeds", default="1-10")
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        run_seconds = str(json.load(f)["run_seconds"])
    ap.add_argument("--seconds", default=run_seconds)
    ap.add_argument("--out", help="directory to keep each run's JSON lines in")
    args = ap.parse_args()
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    ok = all([sweep(n, _seeds(args.seeds), args.seconds, args.out) for n in names])
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
