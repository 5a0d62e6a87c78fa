"""Run one workload over several seeds and report each end-to-end
metric's median and quartile spread against its bound.

    python3 perfbench/spread.py convert_tabular 1 2 3 4 5

The spread is (Q3 - Q1) / median with quartiles from
``statistics.quantiles(values, n=4)``.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str]) -> int:
    workload, seeds = argv[0], [int(s) for s in argv[1:]]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    values: dict[str, list[float]] = {}
    for seed in seeds:
        cmd = bench["command"] + [
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        print(seed, result["correct"], {k: round(v["value"], 4) for k, v in result["metrics"].items()},
              flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for metric in bench["end_to_end"]:
        vals = values[metric["name"]]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        print(f"{metric['name']:>12} median {med:.4f} spread {spread:.3f} "
              f"bound {metric['bound']} ({'ok' if spread < metric['bound'] / 3 else 'WIDE'})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
