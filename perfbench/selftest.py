"""Self-test of the benchmark, on small inputs.

    python3 perfbench/selftest.py

For each workload it runs the smoke configuration (small generated
inputs, one short op stream) three ways and checks:

- untraced: the result line has every end-to-end metric of
  BENCHMARK.json with its unit, and every answer was correct;
- traced: the result line has every per-layer metric with its unit;
- with a planted wrong expected answer: ``failed`` is above 0 and
  ``correct`` is false, so a wrong answer cannot pass unnoticed.

Last, it runs the benchmark in a directory that holds only
BENCHMARK.json and perfbench/, where it must fail without a result.
Takes a few minutes; exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, *extra: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--scale", "smoke", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


class CheckFailed(Exception):
    pass


def check(ok: bool, what) -> None:
    if not ok:
        raise CheckFailed(what)


def result(lines: list[str]) -> dict:
    check(bool(lines), "no output")
    r = json.loads(lines[-1])
    check(set(r) == {"correct", "attempted", "failed", "metrics"}, r.keys())
    check(isinstance(r["attempted"], int) and r["attempted"] >= 1, r)
    return r


def expect_metrics(r: dict, wanted: list[dict]) -> None:
    got = r["metrics"]
    for m in wanted:
        check(m["name"] in got, f"missing metric {m['name']}")
        check(got[m["name"]]["unit"] == m["unit"], (m, got[m["name"]]))
        check(isinstance(got[m["name"]]["value"], float), got[m["name"]])
    check(len(got) == len(wanted), sorted(set(got) - {m["name"] for m in wanted}))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        contract = json.load(f)
    for w in (x["name"] for x in contract["workloads"]):
        code, lines = run(w, "--trace", "0")
        r = result(lines)
        expect_metrics(r, contract["end_to_end"])
        check(code == 0 and r["correct"] and r["failed"] == 0, (w, lines[-2:]))
        print(f"ok  {w}: end-to-end metrics present, {r['attempted']} ops correct")

        code, lines = run(w, "--trace", "1")
        r = result(lines)
        expect_metrics(r, contract["per_layer"])
        check(code == 0 and r["correct"], (w, lines[-2:]))
        print(f"ok  {w}: per-layer metrics present in the traced run")

        code, lines = run(w, "--trace", "0", "--plant-wrong")
        r = result(lines)
        check(r["failed"] > 0 and not r["correct"], (w, r))
        print(f"ok  {w}: planted wrong answer counted, error rate {r['failed']}/{r['attempted']}")

    bare = os.path.join(ROOT, ".perfbench_runs", "selftest_bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, lines = run(contract["workloads"][0]["name"], "--trace", "0", cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    check(code != 0 and not any(ln.startswith('{"correct"') for ln in lines), (code, lines))
    print("ok  without the engine the benchmark fails without a result")
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except CheckFailed as e:
        print(f"FAIL {e}")
        sys.exit(1)
