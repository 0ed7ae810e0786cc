#!/usr/bin/env python3
"""Run a workload over several seeds and report each metric's spread.

Usage, from the repository root:

    python3 perfbench/spread.py --workload cow_ingest --seeds 1-10 [--trace 0|1]

For every metric prints the median of the per-run values and the
spread (third quartile minus first, as `statistics.quantiles(n=4)`
gives them) as a share of the median, next to the metric's bound from
BENCHMARK.json. With `--against <file>` it also compares medians with
an earlier set saved by `--save <file>`; a traced set compared with an
untraced one prints the tracing overhead (traced minus untraced median
op latency). Each run's output is kept
under `.bench_build/perfbench/spread/`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(os.getcwd(), ".bench_build", "perfbench", "spread")


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--save")
    ap.add_argument("--against")
    a = ap.parse_args()
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    os.makedirs(OUT, exist_ok=True)
    values = {}
    for s in seeds(a.seeds):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                  "--seconds", str(bench["run_seconds"]), "--trace", a.trace]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        log = os.path.join(OUT, "%s-t%s-seed%d.txt" % (a.workload, a.trace, s))
        with open(log, "w") as f:
            f.write(p.stdout)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print("seed %d: exit %d" % (s, p.returncode))
            continue
        res = json.loads(lines[-1])
        print("seed %d: correct=%s attempted=%d failed=%d %s" % (
            s, res["correct"], res["attempted"], res["failed"],
            " ".join("%s=%.4g" % (k, v["value"]) for k, v in res["metrics"].items()
                     if a.trace == "0")), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    prior = {}
    if a.against:
        with open(a.against) as f:
            prior = json.load(f)
    print("%-28s %12s %8s %8s %8s" % ("metric", "median", "spread", "bound", "vs_prior"))
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q = statistics.quantiles(vs, n=4)
            spread = (q[2] - q[0]) / med
        else:
            spread = float("nan")
        b = bounds.get(k)
        rel = ""
        if k in prior and prior[k]:
            rel = "%+.3f" % ((med - prior[k]) / prior[k])
        print("%-28s %12.6g %8.3f %8s %8s" % (k, med, spread, b if b is not None else "-", rel))
        if k == "trace.primary_p50_s" and prior.get("primary_p50_s"):
            print("tracing overhead: traced primary_p50_s %.4f s - untraced %.4f s = %+.4f s (%+.1f%%)" % (
                med, prior["primary_p50_s"], med - prior["primary_p50_s"],
                100 * (med - prior["primary_p50_s"]) / prior["primary_p50_s"]))
    if a.save:
        with open(a.save, "w") as f:
            json.dump({k: statistics.median(v) for k, v in values.items()}, f, indent=1)


if __name__ == "__main__":
    sys.exit(main())
