#!/usr/bin/env python3
"""Record pass-by-pass curves of long runs and write them, with the run
settings, to perfsuite/calibration.json. Per workload, `from_cold` times
full passes right after the cold one (no warm-up); `as_run` first does the
warm-up run.py uses (index_build's warm passes index a quarter of the
files; the count is in its settings), then times full passes.
`plateau_at_pass` is the first timed pass from which every later 3-pass
median stays within 5% of the curve's tail median; the warm-up counts in
run.py's WORKLOADS are chosen so `as_run` is flat from its first timed
pass, or close to it.

    python3 perfsuite/calibrate.py [--seconds 60] [--seed 1]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def plateau(walls, tol=0.05):
    """Index (in timed passes) where the curve flattens: the first pass from
    which the median of every later window of 3 passes stays within `tol`
    of the tail median (a window, so one noisy pass does not move it)."""
    tail = statistics.median(walls[len(walls) // 2:])
    windows = [statistics.median(walls[j:j + 3]) for j in range(max(1, len(walls) - 2))]
    for i in range(len(windows)):
        if all(abs(w - tail) <= tol * tail for w in windows[i:]):
            return i, tail
    return len(walls), tail


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=float, default=60)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    build = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build")),
                         "perfsuite")
    out = {}
    for name, wl in run.WORKLOADS.items():
        out[name] = {"seed": a.seed}
        for curve, warm in (("from_cold", 0), ("as_run", wl["warmup_passes"])):
            subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", "0",
                            "--warmup-passes", str(warm)], check=True, stdout=subprocess.DEVNULL)
            res = json.load(open(os.path.join(build, "results", f"{name}-seed{a.seed}-trace0.json")))
            walls = [w for kind, w in res["pass_curve"] if kind == "timed"]
            at, tail = plateau(walls)
            out[name][curve] = {
                "settings": res["settings"], "input_mb": res["input_mb"], "setup_s": res["setup_s"],
                "cold_pass_s": res["pass_curve"][0][1],
                "warm_pass_s": [w for kind, w in res["pass_curve"] if kind == "warm"],
                "timed_pass_s": walls, "plateau_at_pass": at, "tail_median_s": tail,
                "host_steal_s": res["run_timing"]["host_steal_s"]}
            print(f"{name} {curve}: flat from timed pass {at} (tail median {tail:.3f} s)")
    with open(os.path.join(HERE, "calibration.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
