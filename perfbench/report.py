"""Repeat the benchmark and summarise it.

    python3 perfbench/report.py spread   <workload> <seconds> <seed>...
    python3 perfbench/report.py overhead <workload> <seconds> <seed>

``spread`` runs untraced once per seed and prints, per end-to-end
metric, the median and the quartile spread (Q3 - Q1) / median.
``overhead`` runs the seed untraced once and traced twice, and prints
the tracing overhead (traced minus untraced end-to-end numbers) and
which per-layer counts repeat exactly across the two traced runs.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run(workload: str, seconds: str, seed: int, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed), "--seconds", seconds, "--trace", str(trace)],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        check=True,
    ).stdout.splitlines()
    detail = json.loads(next(line for line in out if line.startswith("detail: "))[len("detail: ") :])
    return json.loads(out[-1]), detail


def spread(workload: str, seconds: str, seeds: list[int]) -> None:
    values: dict[str, list[float]] = {}
    for seed in seeds:
        res, _ = run(workload, seconds, seed, 0)
        print(json.dumps({"seed": seed, "correct": res["correct"], **{k: v["value"] for k, v in res["metrics"].items()}}))
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        q1, q2, q3 = statistics.quantiles(vs, n=4)
        print(f"{workload} {k}: median {statistics.median(vs):.4f} spread {(q3 - q1) / statistics.median(vs):.4f}")


def overhead(workload: str, seconds: str, seed: int) -> None:
    plain, _ = run(workload, seconds, seed, 0)
    traced = [run(workload, seconds, seed, 1) for _ in range(2)]
    for k, v in plain["metrics"].items():
        t = traced[0][1]["e2e"][k]
        print(f"overhead {k}: untraced {v['value']:.4f} traced {t:.4f} diff {t - v['value']:+.4f}")
    a, b = (t[0]["metrics"] for t in traced)
    counts = sorted(k for k in a if a[k]["unit"] in ("count", "bytes"))
    print("repeat exactly:", [k for k in counts if a[k]["value"] == b[k]["value"]])
    print("differ:", {k: (a[k]["value"], b[k]["value"]) for k in counts if a[k]["value"] != b[k]["value"]})


if __name__ == "__main__":
    mode, workload, secs, *rest = sys.argv[1:]
    if mode == "spread":
        spread(workload, secs, [int(s) for s in rest])
    else:
        overhead(workload, secs, int(rest[0]))
