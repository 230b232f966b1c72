#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload fresh_round --seeds 1-10

Runs perfbench/run.py once per seed (--trace 0, BENCHMARK.json's
run_seconds), then prints each metric's median and its quartile spread,
(Q3 - Q1) / median, next to the bound BENCHMARK.json allows. A steady
benchmark keeps every spread but setup_s below a third of its bound.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.stats import median, quartile_spread  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    args = p.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = [*spec["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall = time.perf_counter() - t0
        res = json.loads(out.stdout.strip().splitlines()[-1])
        rounds = [ln.split(": ")[1] for ln in out.stderr.splitlines() if ln.startswith("[perfbench] round ")]
        print(f"seed {seed}: {wall:.1f} s wall, rounds {' '.join(rounds)}, correct={res['correct']} "
              f"attempted={res['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for k, vs in values.items():
        print(f"{k:22s} median {median(vs):12.4f}  spread {quartile_spread(vs):.4f}  bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
