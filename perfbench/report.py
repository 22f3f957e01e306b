#!/usr/bin/env python3
"""Make and compare sets of benchmark runs.

  python3 perfbench/report.py run --out A.jsonl [--workloads w1,w2]
      [--seeds 1-10] [--seconds N] [--trace 0|1]
  python3 perfbench/report.py compare A.jsonl B.jsonl
  python3 perfbench/report.py overhead UNTRACED.jsonl TRACED.jsonl

`run` calls perfbench/run.py once per workload x seed and appends one
JSON line per run: {"workload", "seed", "trace", "rc", "run": <the
run's printed result>}. `--seconds` defaults to BENCHMARK.json's
run_seconds.

`compare` prints, per workload x end-to-end metric, each set's median
and quartiles (statistics.quantiles, n=4), each set's spread (the
interquartile range as a share of the median), how much worse B's median
is than A's in the metric's own direction, and a verdict against the
metric's bound in BENCHMARK.json:
  agree      - both spreads and the change are within the bound;
  better     - B is better by more than the bound, spreads within it;
  worse      - B is worse by more than the bound, spreads within it;
  unresolved - a spread exceeds the bound (setup_s: only the change is
               judged; set-up is timed a few times per run, not steadied).

`overhead` compares the traced runs' `client.<metric>` values with the
untraced runs' `<metric>` values: the tracing overhead, per workload.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def load(path):
    with open(path) as f:
        return [json.loads(x) for x in f if x.strip()]


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def cmd_run(a):
    b = bench()
    workloads = a.workloads.split(",") if a.workloads else \
        [w["name"] for w in b["workloads"]]
    secs = a.seconds or b["run_seconds"]
    for w in workloads:
        for s in seeds(a.seeds):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", w, "--seed", str(s), "--seconds", str(secs),
                 "--trace", str(a.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            run = json.loads(lines[-1]) if lines else None
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": w, "seed": s,
                                    "trace": a.trace, "rc": p.returncode,
                                    "run": run}) + "\n")
            print(f"{w} seed={s} rc={p.returncode}", file=sys.stderr)


def values(runs, workload, metric):
    return [r["run"]["metrics"][metric]["value"] for r in runs
            if r["workload"] == workload and r["run"]
            and metric in r["run"]["metrics"]]


def stats(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def cmd_compare(a):
    b = bench()
    ra, rb = load(a.a), load(a.b)
    print(f"{'workload':14s} {'metric':18s} {'A median [q1,q3]':>30s} "
          f"{'B median [q1,q3]':>30s} {'sprA':>6s} {'sprB':>6s} "
          f"{'worse':>7s} verdict")
    for w in [x["name"] for x in b["workloads"]]:
        for m in b["end_to_end"]:
            xa, xb = values(ra, w, m["name"]), values(rb, w, m["name"])
            if len(xa) < 2 or len(xb) < 2:
                print(f"{w:14s} {m['name']:18s} too few runs")
                continue
            ma, qa1, qa3, sa = stats(xa)
            mb, qb1, qb3, sb = stats(xb)
            sign = 1 if m["better"] == "lower" else -1
            worse = sign * (mb - ma) / ma
            bound = m["bound"]
            if m["name"] != "setup_s" and max(sa, sb) > bound:
                verdict = "unresolved"
            elif worse > bound:
                verdict = "worse"
            elif worse < -bound:
                verdict = "better"
            else:
                verdict = "agree"
            side_a = f"{ma:.4g} [{qa1:.4g},{qa3:.4g}]"
            side_b = f"{mb:.4g} [{qb1:.4g},{qb3:.4g}]"
            print(f"{w:14s} {m['name']:18s} {side_a:>30s} {side_b:>30s} "
                  f"{sa:6.3f} {sb:6.3f} {worse:+7.3f} {verdict}")


def cmd_overhead(a):
    b = bench()
    ru, rt = load(a.untraced), load(a.traced)
    for w in [x["name"] for x in b["workloads"]]:
        for m in b["end_to_end"]:
            xu = values(ru, w, m["name"])
            xt = values(rt, w, "client." + m["name"])
            if not xu or not xt:
                continue
            mu, mt = statistics.median(xu), statistics.median(xt)
            print(f"{w:14s} {m['name']:18s} untraced {mu:10.4g} "
                  f"traced {mt:10.4g} overhead {(mt - mu) / mu:+.3f}")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--out", required=True)
    r.add_argument("--workloads")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--seconds", type=int)
    r.add_argument("--trace", type=int, default=0)
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    o = sub.add_parser("overhead")
    o.add_argument("untraced")
    o.add_argument("traced")
    a = ap.parse_args()
    {"run": cmd_run, "compare": cmd_compare, "overhead": cmd_overhead}[
        a.cmd](a)


if __name__ == "__main__":
    main()
