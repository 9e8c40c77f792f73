#!/usr/bin/env python3
"""Steadiness check: runs the benchmark on several seeds per workload and
reports, for each metric, the median, the quartiles and the spread
(q3 - q1) / median, as `statistics.quantiles(values, n=4)` gives them.

    python3 perfbench/steady.py [--workloads a,b] [--seeds 1-10] [--trace 0|1]

Run from the repository root. Prints one table per workload and writes
every run's figures to `.bench_out/steady-<trace>-<workloads>.json`. With
`--trace 1` it also reports the traced run's median `trace.op_p50_s`; the
tracing overhead is that minus the untraced `op_p50_s`.
"""
import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    wanted = bench["per_layer"] if args.trace == "1" else bench["end_to_end"]
    report = {}
    for wl in args.workloads.split(","):
        runs = []
        for seed in seeds(args.seeds):
            cmd = bench["command"] + ["--workload", wl, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", args.trace]
            t0 = time.time()
            res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
            wall = time.time() - t0
            lines = res.stdout.strip().splitlines()
            if res.returncode != 0 or not lines or not lines[-1].startswith("{"):
                print(f"{wl} seed {seed}: run failed (exit {res.returncode}):\n" + res.stdout[-2000:])
                runs.append(None)
                continue
            out = json.loads(lines[-1])
            out["wall_s"] = wall
            runs.append(out)
            print(f"{wl} seed {seed}: {wall:.1f} s correct={out['correct']} failed={out['failed']}/{out['attempted']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()
                           if k in {m['name'] for m in bench['end_to_end']} or k == "trace.op_p50_s"),
                  flush=True)
        ok = [r for r in runs if r]
        rows = {}
        for m in wanted:
            vals = [r["metrics"][m["name"]]["value"] for r in ok]
            if len(vals) >= 2 and any(vals):
                med, q1, q3, sp = metrics.spread(vals)
                rows[m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": sp, "values": vals,
                                   "bound": m.get("bound")}
        report[wl] = {"runs": len(runs), "ok": len(ok), "all_correct": all(r["correct"] for r in ok),
                      "median_run_wall_s": metrics.median([r["wall_s"] for r in ok]), "metrics": rows}
        print(f"\n{wl}: {len(ok)}/{len(runs)} runs ok, all correct: {report[wl]['all_correct']}, "
              f"median run {report[wl]['median_run_wall_s']:.1f} s")
        for name, r in rows.items():
            if args.trace == "1" and name not in ("trace.op_p50_s",):
                continue
            bound = f"  bound {r['bound']}" if r["bound"] is not None else ""
            print(f"  {name:14s} median {r['median']:.5g}  q1 {r['q1']:.5g}  q3 {r['q3']:.5g}  "
                  f"spread {r['spread']:.3f}{bound}")
        print(flush=True)
    os.makedirs(".bench_out", exist_ok=True)
    path = os.path.join(".bench_out", f"steady-t{args.trace}-{args.workloads.replace(',', '+')}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print("wrote", path)


if __name__ == "__main__":
    main()
