"""Record one traced run per workload, with its tracing overhead.

    python3 perfbench/record_trace.py --seed 1 --seconds 14

For each workload, runs the benchmark untraced and then traced with the
same seed, and writes ``perfbench/results/<workload>.json``: the host,
the untraced end-to-end metrics, the traced run's per-layer metrics,
and the tracing overhead, which is the traced run's own end-to-end
numbers (``traced.*``) relative to the untraced run's. One pair of runs
is one sample: on a shared host the difference carries the run-to-run
spread as well.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def host() -> dict:
    model = ""
    with open("/proc/cpuinfo") as f:
        for ln in f:
            if ln.startswith("model name"):
                model = ln.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as f:
        mem_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return {"cpu": model, "cpus": len(os.sched_getaffinity(0)),
            "mem_gib": round(mem_kb / 2**20, 1), "python": platform.python_version()}


def run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True).stdout
    lines = out.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=14)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        contract = json.load(f)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    for w in (x["name"] for x in contract["workloads"]):
        _, plain = run(w, args.seed, args.seconds, 0)
        detail, traced = run(w, args.seed, args.seconds, 1)
        base = {k: v["value"] for k, v in plain["metrics"].items()}
        layer = {k: v["value"] for k, v in traced["metrics"].items()}
        overhead = {
            k: layer[f"traced.{k}"] / base[k] - 1.0
            for k in base if f"traced.{k}" in layer and base[k]
        }
        detail.pop("settings", None)
        rec = {
            "host": host(), "seed": args.seed, "seconds": args.seconds,
            "untraced": plain, "traced": traced, "overhead": overhead,
            "traced_detail": detail,
        }
        path = os.path.join(HERE, "results", f"{w}.json")
        with open(path, "w") as f:
            json.dump(rec, f, indent=1)
        print(w, "overhead", {k: round(v, 3) for k, v in overhead.items()}, "->", os.path.relpath(path, ROOT))
    return 0


if __name__ == "__main__":
    sys.exit(main())
