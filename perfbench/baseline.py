"""Repeat the benchmark over many seeds and summarise the spread.

    python3 perfbench/baseline.py --workloads scan_mix,llm_pipeline \\
        --seeds 1-10 --holdout 101 --traced 1,2 --out baseline.json
    python3 perfbench/baseline.py \\
        --workloads scan_mix,ingest_commit,llm_pipeline --seeds 7   # one seed

Runs ``run.py`` once per (workload, seed), sequentially, and reports for
each end-to-end metric the median, the quartiles (``statistics.quantiles``
with n=4) and the spread (interquartile distance over the median) next to
the metric's bound. The held-out seed is reported on its own. Traced runs
give the per-layer medians and the tracing overhead (1 - traced rows_per_s
over untraced rows_per_s).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            out += list(range(int(lo), int(hi) + 1))
        elif part:
            out.append(int(part))
    return out


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    )
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    res["record"] = json.loads(lines[-2])["record"]
    return res


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med,) * 3
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0,
        "n": len(values),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="scan_mix,llm_pipeline")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--holdout", type=int, default=None)
    ap.add_argument("--traced", default="")
    ap.add_argument("--out", default=None)
    args = ap.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report: dict = {"run_seconds": seconds, "workloads": {}}
    for wl in args.workloads.split(","):
        runs = [run(wl, s, seconds, 0) for s in _seeds(args.seeds)]
        entry: dict = {
            "seeds": _seeds(args.seeds),
            "correct": all(r["correct"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "attempted": sum(r["attempted"] for r in runs),
            "cores": runs[0]["record"]["cores"],
            "spark_version": runs[0]["record"]["spark_version"],
            "jar_fingerprint": runs[0]["record"]["jar_fingerprint"],
            "metrics": {},
        }
        for name in runs[0]["metrics"]:
            s = summarise([r["metrics"][name]["value"] for r in runs])
            s["unit"] = runs[0]["metrics"][name]["unit"]
            s["bound"] = bounds.get(name)
            entry["metrics"][name] = s
        entry["per_seed"] = {
            str(s): {k: v["value"] for k, v in r["metrics"].items()}
            for s, r in zip(entry["seeds"], runs)
        }
        entry["op_p90_tail_samples"] = statistics.median(
            r["record"]["op_p90_tail_samples"] for r in runs
        )
        if args.holdout is not None:
            h = run(wl, args.holdout, seconds, 0)
            entry["holdout"] = {
                "seed": args.holdout,
                "correct": h["correct"],
                "metrics": {k: v["value"] for k, v in h["metrics"].items()},
            }
        traced = [run(wl, s, seconds, 1) for s in _seeds(args.traced)]
        if traced:
            layers = {}
            for name in traced[0]["metrics"]:
                vals = [t["metrics"][name]["value"] for t in traced]
                layers[name] = {
                    "median": statistics.median(vals),
                    "unit": traced[0]["metrics"][name]["unit"],
                }
            entry["per_layer"] = layers
            t_rps = statistics.median(t["metrics"]["trace.rows_per_s"]["value"] for t in traced)
            entry["tracing_overhead"] = 1 - t_rps / entry["metrics"]["rows_per_s"]["median"]
        report["workloads"][wl] = entry
        print(f"== {wl}: correct={entry['correct']} "
              f"failed={entry['failed']}/{entry['attempted']}", file=sys.stderr)
        for name, s in entry["metrics"].items():
            print(f"  {name:12s} {s['unit']:7s} median={s['median']:.4g} q1={s['q1']:.4g} "
                  f"q3={s['q3']:.4g} spread={s['spread']:.3f} bound={s['bound']}",
                  file=sys.stderr)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
            f.write("\n")
    print(json.dumps({w: {k: round(v["spread"], 4) for k, v in e["metrics"].items()}
                      for w, e in report["workloads"].items()}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
