#!/usr/bin/env python3
"""Run every workload on several seeds and report each metric's spread.

    python3 perfbench/spread.py --seeds 1-10 [--workloads kv_write_mix,...]
        [--trace 0|1] [--out perfbench/baseline/untraced.json]

For each workload and figure a run prints (the end-to-end metrics and the
wall-clock and memory figures): the values, their median, and the distance
between the first and third quartile (``statistics.quantiles``, n=4) as a
share of the median — the spread BENCHMARK.json's bounds are checked
against.  With ``--trace 1`` it also keeps each run's self-time table and
count tables, and with ``--untraced`` the tracing overhead: the traced
median over the untraced one, less 1.  Runs are sequential; each is one ``perfbench/run.py``
process with BENCHMARK.json's ``run_seconds``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in text.split(",")]


def main() -> int:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", default=None)
    p.add_argument("--untraced", default=None,
                   help="with --trace 1: an untraced summary to compute tracing overhead from")
    args = p.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    summary: dict = {"run_seconds": spec["run_seconds"], "trace": args.trace, "workloads": {}}
    for wl in args.workloads.split(","):
        runs = []
        for seed in args.seeds:
            cmd = [*spec["command"], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
            t0 = time.perf_counter()
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            wall = time.perf_counter() - t0
            if out.returncode != 0:
                print(f"{wl} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}",
                      file=sys.stderr)
                return 1
            lines = out.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            res["seed"], res["wall_s"] = seed, wall
            figures = next(json.loads(line[len("figures "):]) for line in lines
                           if line.startswith("figures "))
            if args.trace:
                trace = os.path.join(ROOT, ".perfbench", "out", f"trace-{wl}-seed{seed}.json")
                with open(trace) as f:
                    dump = json.load(f)
                res["self_time"] = dump["self_time"]
                res["counts"] = dump["counts"]
            res["figures"] = figures
            # the readable report's "  name = value unit" lines
            res["report"] = {m[1]: float(m[2]) for m in
                             (re.match(r"^  (\S+) = (\S+) \S+$", line) for line in lines) if m}
            runs.append(res)
            print(f"{wl} seed {seed}: {wall:.0f}s correct={res['correct']} "
                  + " ".join(f"{k}={v:.4g}" for k, v in figures.items()), flush=True)
        stats = {}
        for name in runs[0]["figures"]:
            vals = [r["figures"][name] for r in runs]
            med = statistics.median(vals)
            q1, _q2, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            stats[name] = {"median": med, "iqr_share": (q3 - q1) / med if med else 0.0,
                           "bound": bounds.get(name), "values": vals}
        keep = ("seed", "wall_s", "correct", "attempted", "failed", "report", "self_time",
                "counts")
        summary["workloads"][wl] = {
            "runs": [{k: r[k] for k in keep if k in r} for r in runs],
            "metrics": stats,
        }
        if args.trace and args.untraced:
            base = json.load(open(args.untraced))["workloads"][wl]["metrics"]
            summary["workloads"][wl]["tracing_overhead"] = {
                name: stats[name]["median"] / base[name]["median"] - 1
                for name in ("cpu_ms_per_op", "wall.op_p50_ms", "wall.ops_per_s")
            }
        for name, st in stats.items():
            print(f"  {wl} {name}: median {st['median']:.4g} "
                  f"spread {st['iqr_share']:.3f} (bound {st['bound']})")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
