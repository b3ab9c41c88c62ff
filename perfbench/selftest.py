"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it runs ``perfbench/run.py`` at
``--scale tiny`` three times with one seed: untraced, traced, and untraced
with one written edge dropped (``--corrupt``). It checks that the untraced
and traced runs pass their correctness checks and print exactly the
end-to-end and per-layer metrics BENCHMARK.json names, each with its unit,
and that the corrupted run fails its correctness check. Exits non-zero on
the first failure. Takes a few minutes: each run starts its own Spark.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 990001


def run(workload: str, trace: int, corrupt: bool = False) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(SEED), "--seconds", "1", "--trace",
           str(trace), "--scale", "tiny"] + (["--corrupt"] if corrupt else [])
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"FAIL {' '.join(cmd[1:])}: exit {p.returncode}")
    return json.loads(lines[-1])


def expect(cond: bool, what: str) -> None:
    print(f"{'ok  ' if cond else 'FAIL'} {what}", flush=True)
    if not cond:
        raise SystemExit(1)


def check_metrics(out: dict, spec: list[dict], what: str) -> None:
    got = out["metrics"]
    want = {m["name"]: m["unit"] for m in spec}
    expect(set(got) == set(want),
           f"{what}: metric names match BENCHMARK.json "
           f"(missing {sorted(set(want) - set(got))}, "
           f"extra {sorted(set(got) - set(want))})")
    for name, unit in want.items():
        v = got[name]
        expect(v["unit"] == unit and isinstance(v["value"], (int, float))
               and math.isfinite(v["value"]),
               f"{what}: {name} = {v['value']} {v['unit']}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in (x["name"] for x in bench["workloads"]):
        out = run(w, 0)
        expect(out["correct"] and out["failed"] == 0 and out["attempted"] >= 1,
               f"{w}: untraced run is correct")
        check_metrics(out, bench["end_to_end"], f"{w} --trace 0")
        out = run(w, 1)
        expect(out["correct"], f"{w}: traced run is correct")
        check_metrics(out, bench["per_layer"], f"{w} --trace 1")
        out = run(w, 0, corrupt=True)
        expect(not out["correct"], f"{w}: one dropped edge fails the check")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
