#!/usr/bin/env python3
"""Crawl-round benchmark of the oa_spider_spark engine.

    python3 perfbench/run.py --workload fresh_round --seed 1 --seconds 10 --trace 0

Runs one workload (inputs.WORKLOADS) at local[nproc] from this single
process, closed loop: each round starts after the previous one has
committed. Inputs are generated from --seed. After set-up and one checked
warm-up round, the run repeats the workload's round on a fresh catalog
until --seconds have passed (at least two rounds) and prints one JSON
line last: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics. --trace 1 runs one untraced
round for reference, then re-wires the round layer by layer (tracing.py)
and reports per-layer metrics; its spans go to .perfbench/traces/.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    # the JVM's Python workers import the engine from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    try:
        from perfbench.bench import WORKLOADS, run
    except ImportError as exc:
        print(f"[perfbench] cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"[perfbench] unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args, ROOT)
    sys.stderr.flush()
    print(json.dumps(result), flush=True)
    return 0 if result["metrics"] else 1


if __name__ == "__main__":
    sys.exit(main())
