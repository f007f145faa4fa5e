"""Steadiness check: run one workload with several seeds and print each
end-to-end metric's spread next to its bound from BENCHMARK.json.

    python3 perfbench/steady.py --workload turtle_crawl --runs 10
    python3 perfbench/steady.py --workload turtle_crawl --runs 10 \
        --first-seed 101 --against .perfbench_out/steady_turtle_crawl.json

Spread is (q3 - q1) / median over the runs' values, with quartiles from
statistics.quantiles(values, n=4). A metric passes when its spread is
below a third of its bound.
With --against, each median is also compared with an earlier set's
median: it may not be worse by more than the bound. The values of every
run are saved to .perfbench_out/steady_<workload>.json, and each run's
output to .perfbench_out/run_<workload>_seed<n>.log.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".perfbench_out"


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=300)
    elapsed = time.time() - t
    OUT.mkdir(exist_ok=True)
    (OUT / f"run_{workload}_seed{seed}.log").write_text(
        proc.stdout + "\n--- stderr ---\n" + proc.stderr)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"seed {seed}: exit {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["elapsed_s"] = elapsed
    result["host"] = next((json.loads(ln[len("# host "):]) for ln in lines
                           if ln.startswith("# host ")), {})
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--against", type=Path, default=None)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    results = []
    for k in range(args.runs):
        seed = args.first_seed + k
        r = run_once(args.workload, seed, spec["run_seconds"])
        results.append(r)
        print(f"seed {seed}: {r['elapsed_s']:.1f} s, steal "
              f"{r['host'].get('steal_share', 0):.3f}, failed "
              f"{r['failed']}/{r['attempted']}, " + ", ".join(
                  f"{n}={m['value']:.4g}" for n, m in r["metrics"].items()),
              flush=True)
    earlier = (json.loads(args.against.read_text())["medians"]
               if args.against else {})
    medians, ok = {}, True
    print(f"{'metric':16s} {'median':>10s} {'spread':>8s} {'bound':>6s}  "
          f"verdict")
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        values = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(values, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        medians[name] = med
        verdict = "ok" if spread < bound / 3 else "TOO WIDE"
        if name in earlier:
            worse = ((med - earlier[name]) / earlier[name]
                     if m["better"] == "lower"
                     else (earlier[name] - med) / earlier[name])
            verdict += f", vs earlier {worse:+.3f}"
            if worse > bound:
                verdict += " WORSE"
        ok &= "TOO WIDE" not in verdict and "WORSE" not in verdict
        print(f"{name:16s} {med:10.4g} {spread:8.3f} {bound:6.2f}  {verdict}")
    failed = sum(r["failed"] for r in results)
    ok &= failed == 0
    print(f"failed operations: {failed}; mean run "
          f"{statistics.mean(r['elapsed_s'] for r in results):.1f} s")
    OUT.mkdir(exist_ok=True)
    (OUT / f"steady_{args.workload}.json").write_text(json.dumps(
        {"runs": results, "medians": medians}, indent=1))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
