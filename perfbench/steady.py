"""Steadiness check: run the benchmark on several seeds and report, per
end-to-end metric, the median, the quartile spread as a share of the
median, and the bound from BENCHMARK.json.

    python3 perfbench/steady.py --seeds 1 2 3 4 5 6 7 8 9 10
    python3 perfbench/steady.py --workloads serve_reads --seeds 1 2 3 4 5 --traced

Runs one benchmark process at a time.  ``--traced`` adds one traced run
per workload (first seed) and reports the tracing overhead: the traced
run's end-to-end figures against the untraced medians.  ``--out`` keeps
every run's record and result as JSON lines.
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


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def spread(values: list[float]) -> tuple[float, float]:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", nargs="+", type=int, default=list(range(1, 11)))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out = open(args.out, "a", encoding="utf-8") if args.out else None
    summary = {}
    try:
        for workload in args.workloads:
            values: dict[str, list[float]] = {}
            for seed in args.seeds:
                record, result = run_once(workload, seed, args.seconds, 0)
                if out:
                    out.write(json.dumps({"record": record, "result": result}) + "\n")
                    out.flush()
                if not result["correct"]:
                    print(f"{workload} seed {seed}: INCORRECT {record['check']}")
                for name, m in record["end_to_end"].items():
                    values.setdefault(name, []).append(m["value"])
                print(f"{workload} seed {seed}: " + " ".join(
                    f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()), flush=True)
            rows = {}
            for name, vals in values.items():
                if len(vals) < 2:
                    continue
                med, sp = spread(vals)
                rows[name] = {"median": med, "spread": sp, "bound": bounds.get(name)}
            if args.traced:
                record, _ = run_once(workload, args.seeds[0], args.seconds, 1)
                if out:
                    out.write(json.dumps({"record": record}) + "\n")
                for name, m in record["end_to_end"].items():
                    if name in rows:
                        rows[name]["trace_overhead"] = m["value"] / rows[name]["median"] - 1
            summary[workload] = rows
            for name, r in rows.items():
                flag = ""
                if r["bound"] is not None:
                    flag = "ok" if r["spread"] < r["bound"] / 3 else (
                        "within bound" if r["spread"] <= r["bound"] else "TOO WIDE")
                extra = f" trace_overhead={r['trace_overhead']:+.1%}" if "trace_overhead" in r else ""
                print(f"  {workload:14s} {name:22s} median={r['median']:.4g} "
                      f"spread={r['spread']:.1%} bound={r['bound']} {flag}{extra}")
    finally:
        if out:
            out.close()
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
