"""Run the benchmark over several seeds and summarize each metric's spread.

    python3 perfbench/sweep.py --seeds 1-10                  # every workload, untraced
    python3 perfbench/sweep.py --workloads build --seeds 1-5 --trace both

For each workload and metric it prints the median over the seeds, the first
and third quartiles (``statistics.quantiles(values, n=4)``) and their
distance as a share of the median, next to the metric's bound from
BENCHMARK.json. With ``--trace both`` every seed also runs traced, and the
tracing overhead is printed as the traced run's ``trace.*`` figure minus the
untraced end-to-end figure, both medians over the seeds. Runs are
sequential; every run's wall time is reported, and the summary is written
to ``perfbench/.work/sweeps/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def run_one(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    t = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.time() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    res["context"] = json.loads(lines[-2])["context"] if len(lines) > 1 else {}
    return res


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", choices=("0", "1", "both"), default="0")
    args = ap.parse_args()
    traces = (0, 1) if args.trace == "both" else (int(args.trace),)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    summary: dict = {"runs": [], "workloads": {}}
    for w in args.workloads.split(","):
        per: dict[int, list[dict]] = {t: [] for t in traces}
        for s in seeds(args.seeds):
            for t in traces:
                r = run_one(bench, w, s, t)
                per[t].append(r)
                summary["runs"].append({"workload": w, "seed": s, "trace": t, **r})
                print(
                    f"{w} seed={s} trace={t} wall={r['wall_s']:.1f}s correct={r['correct']} "
                    f"failed={r['failed']}/{r['attempted']} "
                    + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()
                               if t == 0 or k.startswith("trace.")),
                    flush=True,
                )
        ws: dict = {}
        for t, runs in per.items():
            for name in runs[0]["metrics"]:
                ws[name] = spread([r["metrics"][name]["value"] for r in runs])
            ws[f"wall_s.trace{t}"] = spread([r["wall_s"] for r in runs])
        if len(traces) == 2:
            ws["overhead.op_p50_ms"] = ws["trace.op_p50_ms"]["median"] - ws["op_p50_ms"]["median"]
            ws["overhead.setup_s"] = ws["trace.setup_s"]["median"] - ws["setup_s"]["median"]
        summary["workloads"][w] = ws
        print(f"\n== {w}")
        for name, st in ws.items():
            if isinstance(st, dict):
                b = bounds.get(name)
                flag = "" if b is None else f"  bound {b}  {'OK' if st['spread'] < b / 3 else 'WIDE'}"
                print(f"{name:40s} median {st['median']:.6g}  q1 {st['q1']:.6g}  q3 {st['q3']:.6g}  "
                      f"spread {st['spread']:.3f}{flag}")
            else:
                print(f"{name:40s} {st:.6g}")
        print(flush=True)
    out = os.path.join(HERE, ".work", "sweeps")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"sweep_{int(time.time())}.json"), "w") as f:
        json.dump(summary, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
