#!/usr/bin/env python3
"""Run one benchmark workload on graft and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload <analytics|lake_rw|stream_upsert>
      --seed <n> --seconds <s> --trace <0|1>

Steps: build the library and the harness (`perfbench/build.sbt`, cached
by a source stamp), generate the seeded inputs, run the harness JVM for
the workload, check every output it reports, and print one JSON line
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics with `--trace 0`, the per-layer metrics (see
`perfbench/summarize.py`) with `--trace 1`.

Everything is written under `.perfbench/` in the repository root and
removed again when the run ends. Set PERFBENCH_CORRUPT=1 to alter one checked output after the program made
it; the run must then report `"correct": false` and exit non-zero.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import summarize  # noqa: E402

STATE = os.path.join(ROOT, ".perfbench")
JVM_TIMEOUT_S = 150
ANALYTICS_SF = 0.02
# the analytics corpus is the same for every run; --seed orders its passes
ANALYTICS_CORPUS_SEED = 42
# stream_upsert: files land every period_ms during the fixed-rate phase
# (70% of the measured time); then three bursts of burst_files land at
# once, each drained before the next
STREAM = {"period_ms": 250, "rows_per_file": 500, "burst_files": 16}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: sources and build files."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs
                             if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:"
                     f"{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile library and harness; return the runtime classpath."""
    cache = os.path.join(STATE, "classpath.json")
    stamp = source_stamp()
    try:
        with open(cache) as f:
            c = json.load(f)
        if c["stamp"] == stamp:
            return c["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    log("building library and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    os.makedirs(STATE, exist_ok=True)
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1]


def gen_key(*params):
    """Names a generated input: the generator's source plus its params."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        src = f.read()
    return hashlib.sha256(src + repr(params).encode()).hexdigest()


def make_inputs(workload, seed, seconds, inputs):
    if workload == "analytics":
        corpus = os.path.join(inputs, "corpus")
        gen.corpus(corpus, ANALYTICS_CORPUS_SEED, ANALYTICS_SF)
        with open(os.path.join(corpus, "KEY"), "w") as f:
            f.write(gen_key(ANALYTICS_CORPUS_SEED, ANALYTICS_SF))
    elif workload == "lake_rw":
        # far more ops than any run executes; a run stops at its deadline
        gen.lake_inputs(os.path.join(inputs, "lake"), seed,
                        n_ops=int(seconds * 6) + 20)
    else:
        d = os.path.join(inputs, "stream")
        fixed = int(seconds * 0.7 * 1000 / STREAM["period_ms"])
        gen.stream_inputs(d, seed, fixed + 3 * STREAM["burst_files"],
                          STREAM["rows_per_file"])
        with open(os.path.join(d, "params.json"), "w") as f:
            json.dump(dict(STREAM, fixed_files=fixed), f)


def run_jvm(classpath, args, inputs, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--inputs", inputs, "--work", work,
            "--corrupt", os.environ.get("PERFBENCH_CORRUPT", "0")]
    jlog = os.path.join(work, "jvm.log")
    with open(jlog, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=out)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            log(f"harness JVM killed after {JVM_TIMEOUT_S} s")
    try:
        with open(os.path.join(work, "result.json")) as f:
            return json.load(f), p.returncode
    except (OSError, ValueError):
        with open(jlog) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("harness JVM wrote no result")


def pct(xs, q):
    """Percentile by linear interpolation (q in 0..100)."""
    xs = sorted(xs)
    if not xs:
        raise ValueError("no samples")
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def end_to_end(workload, res):
    """The end-to-end metrics, one definition per workload (see
    perfbench/METRICS.md)."""
    s = res["samples"]
    v = res["values"]
    # set-up repetitions, then the one-off warm-up that follows them
    m = {"setup_s": statistics.median(res["setup_s"]) +
         v.get("warmup_s", 0.0),
         "heap_retained_mb": v["heap_retained_mb"]}
    if workload == "analytics":
        q = [x for k, xs in s.items() if k.startswith("query_ms.") for x in xs]
        per_pass = len(q) / len(s["pass_s"])
        m["latency_ms_p50"] = pct(q, 50)
        m["latency_ms_p90"] = pct(q, 90)
        m["throughput_per_s"] = per_pass / statistics.median(s["pass_s"])
    elif workload == "lake_rw":
        w, r = s["write_ms"], s.get("read_ms", [])
        both = w + r
        m["latency_ms_p50"] = pct(both, 50)
        m["latency_ms_p90"] = pct(both, 90)
        m["throughput_per_s"] = len(both) / v["measured_s"]
    else:
        f = s["freshness_ms"]
        m["latency_ms_p50"] = pct(f, 50)
        m["latency_ms_p90"] = pct(f, 90)
        m["throughput_per_s"] = statistics.median(s["drain_rows_per_s"])
    return m


UNITS = {"setup_s": "s", "latency_ms_p50": "ms",
         "latency_ms_p90": "ms", "throughput_per_s": "1/s",
         "heap_retained_mb": "MiB"}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["analytics", "lake_rw", "stream_upsert"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"not a graft checkout: {need} is missing")

    t_start = time.time()
    classpath = build()
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    inputs = os.path.join(run_dir, "inputs")
    work = os.path.join(run_dir, "work")
    os.makedirs(work, exist_ok=True)
    try:
        t = time.time()
        make_inputs(args.workload, args.seed, args.seconds, inputs)
        t_inputs, t = time.time() - t, time.time()
        res, rc = run_jvm(classpath, args, inputs, work)
        t_jvm, t = time.time() - t, time.time()
        misses = list(res["misses"])
        if rc != 0 and not misses:
            misses.append(f"harness JVM exited with {rc}")
        misses += checks.check(args.workload, res, inputs,
                               os.path.join(STATE, "oracle"))
        log(f"inputs {t_inputs:.1f}s, harness JVM {t_jvm:.1f}s, "
            f"checks {time.time() - t:.1f}s")
        failed = res["failed"] + len(misses) - len(res["misses"])
        attempted = max(1, res["attempted"])
        for m in misses:
            log(f"MISS {m}")
        try:
            e2e = end_to_end(args.workload, res)
        except (KeyError, ValueError, ZeroDivisionError) as e:
            misses.append(f"no metrics: {e!r}")
            failed += 1
            e2e = {}
        if args.trace:
            metrics = summarize.per_layer(args.workload, res, e2e,
                                          os.path.join(work, "trace"),
                                          work)
            units = summarize.UNITS
        else:
            metrics, units = e2e, UNITS
        correct = not misses
        log(f"{args.workload} seed={args.seed}: attempted={attempted} "
            f"failed={failed} failed_frac={failed / attempted:.4f} "
            f"wall={time.time() - t_start:.1f}s")
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]}
                        for k in sorted(metrics)}}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
