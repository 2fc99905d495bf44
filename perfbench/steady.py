"""Steadiness check: run one workload K times with consecutive seeds and
print, per end-to-end metric, the median, the quartiles and the spread
(interquartile distance over the median) against the metric's bound in
BENCHMARK.json.

    python3 perfbench/steady.py --workload serve-mix --runs 10 --seed0 1

Quartiles are ``statistics.quantiles(values, n=4)``.  Exits non-zero if
a run fails, reports an incorrect result, or a spread (other than
setup_s's) exceeds its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(spec: dict, workload: str, seed: int, seconds: int) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.run(
        cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}")
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        result.update({k: v for k, v in json.loads(line).items() if k == "detail"})
    return result


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="repeat one workload and report spreads")
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1)
    p.add_argument("--seconds", type=int, default=None)
    args = p.parse_args(argv)
    spec = load_spec()
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    values: dict[str, list[float]] = {}
    ok = True
    for i in range(args.runs):
        res = run_once(spec, args.workload, args.seed0 + i, seconds)
        ok &= bool(res["correct"]) and res["failed"] == 0
        print(json.dumps({"seed": args.seed0 + i, "correct": res["correct"],
                          "attempted": res["attempted"], "failed": res["failed"],
                          **{k: round(v["value"], 4) for k, v in res["metrics"].items()},
                          "detail": res.get("detail")}),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])

    print(f"{'metric':<18}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}")
    for name, vals in values.items():
        med, q1, q3, sp = spread(vals)
        bound = bounds.get(name, float("nan"))
        flag = "" if name == "setup_s" or sp <= bound else "  OVER"
        ok &= name == "setup_s" or sp <= bound
        print(f"{name:<18}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{sp:>9.3f}{bound:>8.2f}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
