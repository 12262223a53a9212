"""Run the benchmark over a range of seeds and summarize the spread.

    python3 perfbench/baseline.py --seeds 1-10 --sets 2 --out perfbench/baseline.json

For every workload, each set runs ``run.py`` once per seed (untraced),
then once traced on the first seed.  Per set and end-to-end metric it
reports the median, the quartiles (``statistics.quantiles(n=4)``) and the
spread: the distance between the quartiles as a share of the median.
With two sets it also reports how far the second median moved from the
first, as a share of the first, in the metric's worse direction.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    out = {"workload": workload, "seed": seed, "trace": trace,
           "returncode": p.returncode, "run_wall_s": time.time() - t0}
    if p.returncode == 0 and len(lines) >= 2:
        out.update(json.loads(lines[-1]))
        out["host"] = json.loads(lines[-2])["host"]
    else:
        out["stderr_tail"] = p.stderr[-2000:]
    return out


def summarize(runs: list[dict], spec: dict) -> dict:
    out = {}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs if "metrics" in r]
        if len(vals) < 2:
            continue
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        out[m["name"]] = {"median": med, "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / med, "bound": m["bound"], "n": len(vals)}
    return out


def drift(first: dict, second: dict, spec: dict) -> dict:
    """Second median's move in the worse direction, as a share of the first."""
    out = {}
    for m in spec["end_to_end"]:
        a, b = first[m["name"]]["median"], second[m["name"]]["median"]
        worse = (a - b) / a if m["better"] == "higher" else (b - a) / a
        out[m["name"]] = {"worse_by": worse, "bound": m["bound"]}
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--sets", type=int, default=1)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    result = {"seeds": seeds(args.seeds), "run_seconds": spec["run_seconds"], "sets": []}
    for _ in range(args.sets):
        this = {}
        for w in names:
            runs = [one_run(w, s, spec["run_seconds"], 0) for s in seeds(args.seeds)]
            traced = [one_run(w, seeds(args.seeds)[0], spec["run_seconds"], 1)]
            this[w] = {"summary": summarize(runs, spec), "runs": runs, "traced": traced}
            print(json.dumps({w: this[w]["summary"]}), flush=True)
        result["sets"].append(this)
        Path(args.out).write_text(json.dumps(result, indent=1))
    if len(result["sets"]) >= 2:
        result["drift"] = {w: drift(result["sets"][0][w]["summary"],
                                    result["sets"][1][w]["summary"], spec) for w in names}
        print(json.dumps({"drift": result["drift"]}), flush=True)
    Path(args.out).write_text(json.dumps(result, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
