"""Per-layer metrics from a traced run.

The harness JVM leaves in `<work>/trace`:
- spans.jsonl: one span per call the harness made into a layer
  (`queries.<qid>`, `lake.<verb>`, `sql.<verb>`, `streaming.start|stop`),
  with parent, start and end (nanoTime);
- events.jsonl: Spark jobs (span or micro-batch, interval, stages,
  tasks, shuffle/input/spill bytes, records read), Catalyst phase times
  per action, streaming progress per micro-batch, and the measured
  phase's bounds and `file:` byte totals;
- fs.jsonl: filesystem calls by (phase, span).

`per_layer` reduces them to the metrics named in UNITS, over the measured
phase only. Each metric is normalised per unit of its workload: per pass
(analytics), per op or per commit (lake_rw), per micro-batch trigger
(stream_upsert). A metric a workload never exercises reads 0, which is
that workload's prediction for it. `client.*` repeats the end-to-end
metrics as measured under tracing; against the untraced run's values
they give the tracing overhead (see report.py).
"""
import glob
import json
import os

MIX = ["q01", "q06", "q12", "q16", "q18", "q129", "q24", "q26", "q27",
       "q40", "q41"]
FAMILIES = ["core", "ext", "prep", "scale", "graph"]
LAKE_WRITES = ["append", "merge", "delete", "update", "delete_mor",
               "update_mor", "compact", "checkpoint", "expire"]
LAKE_READS = ["read_eq", "read_pruned", "read_full", "time_travel"]
SQL_VERBS = ["merge", "delete", "update"]
SQL_CALLS = ["compact", "checkpoint", "expire"]
FS_CALLS = ["open", "create", "rename", "delete", "list_status",
            "get_file_status", "mkdirs"]

UNITS = {}
UNITS.update({f"lake.{k}_ms": "ms" for k in LAKE_WRITES + LAKE_READS})
UNITS.update({"lake.commits": "count",
              "lake.manifest_bytes_per_commit": "B",
              "lake.live_files_end": "count",
              "lake.versions_end": "count",
              "lake.read_eq_rows_scanned_per_row": "ratio",
              "lake.read_pruned_files_scanned_per_file_live": "ratio"})
UNITS.update({f"sql.{k}_ms": "ms" for k in SQL_VERBS + ["call"]})
UNITS.update({f"streaming.{k}": "ms" for k in [
    "trigger_ms", "add_batch_ms", "get_batch_ms", "query_planning_ms",
    "wal_commit_ms", "start_ms", "stop_ms", "generator_late_ms_max"]})
UNITS.update({"streaming.batches": "count", "streaming.state_rows": "count",
              "streaming.backlog_files_max": "count"})
UNITS.update({f"queries.{f}_s": "s" for f in FAMILIES})
UNITS.update({f"queries.{q}_s": "s" for q in MIX})
UNITS.update({"catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
              "catalyst.planning_ms": "ms", "catalyst.executions": "count"})
UNITS.update({"spark.jobs": "count", "spark.stages": "count",
              "spark.tasks": "count", "spark.job_busy_ms": "ms",
              "spark.driver_gap_ms": "ms", "spark.shuffle_write_bytes": "B",
              "spark.shuffle_read_bytes": "B", "spark.input_bytes": "B",
              "spark.spill_bytes": "B"})
UNITS.update({f"fs.{k}": "count" for k in FS_CALLS})
UNITS.update({"fs.bytes_read": "B", "fs.bytes_written": "B"})
UNITS.update({"client.setup_s": "s", "client.pass_s": "s",
              "client.latency_ms_p50": "ms", "client.latency_ms_p90": "ms",
              "client.throughput_per_s": "1/s",
              "client.heap_retained_mb": "MiB",
              "client.failed_frac": "ratio",
              "client.write_ms_p50": "ms", "client.write_ms_p90": "ms",
              "client.read_ms_p50": "ms", "client.read_ms_p90": "ms"})


def _jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(x) for x in f if x.strip()]


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _union_ms(intervals):
    """Total length of the union of (start, end) intervals."""
    tot, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            tot += b - a
            end = b
        elif b > end:
            tot += b - end
            end = b
    return tot


def _pct(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def per_layer(workload, res, e2e, trace_dir, work):
    m = {k: 0.0 for k in UNITS}
    spans = _jsonl(os.path.join(trace_dir, "spans.jsonl"))
    events = _jsonl(os.path.join(trace_dir, "events.jsonl"))
    fs = _jsonl(os.path.join(trace_dir, "fs.jsonl"))
    phase = next(e for e in events
                 if e["type"] == "phase" and e["name"] == "measure")
    t0, t1, ms0 = phase["t0"], phase["t1"], phase["ms0"]

    def ns(epoch_ms):  # Spark event time on the span clock
        return t0 + (epoch_ms - ms0) * 1e6

    spans = [s for s in spans if t0 <= s["t0"] and s["t1"] <= t1
             or s["name"].startswith("streaming.")]
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def span_ms(name):
        return [(s["t1"] - s["t0"]) / 1e6 for s in by_name.get(name, [])]

    jobs = [j for j in events if j["type"] == "job"
            and t0 <= ns(j["t0"]) <= t1]
    qes = [q for q in events if q["type"] == "qe" and t0 <= q["t"] <= t1]
    samples, values = res["samples"], res["values"]

    # the unit each workload's per-unit metrics are divided by, and the
    # spans whose Spark jobs and filesystem calls count
    if workload == "analytics":
        units = len(samples.get("pass_s", [])) or 1
        op_spans = [s for s in spans if s["name"].startswith("queries.")]
        fs_units = units
    elif workload == "lake_rw":
        writes = values.get("writes", [])
        units = len(writes) + len(values.get("reads", [])) or 1
        op_spans = [s for s in spans if s["name"].startswith(("lake.", "sql."))
                    and s["name"] != "lake.create"]
        fs_units = sum(1 for w in writes if w["version"] > w["before"]) or 1
    else:
        op_spans = []
    fs_spans = {str(s["id"]) for s in op_spans}

    # ------------------------------------------------------------ lake
    for k in LAKE_WRITES + LAKE_READS:
        m[f"lake.{k}_ms"] = _mean(span_ms(f"lake.{k}"))
    for k in SQL_VERBS:
        m[f"sql.{k}_ms"] = _mean(span_ms(f"sql.{k}"))
    m["sql.call_ms"] = _mean([x for k in SQL_CALLS
                              for x in span_ms(f"sql.{k}")])
    if workload == "lake_rw":
        writes = values["writes"]
        m["lake.commits"] = sum(1 for w in writes
                                if w["version"] > w["before"])
        m["lake.versions_end"] = values["final"]["version"]
        m["lake.live_files_end"] = values["live_files_end"]
        start = values["start_version"]
        sizes = [os.path.getsize(p) for p in glob.glob(os.path.join(
            work, "lake", "db", "orders", "_manifest", "v*.txt"))
            if p.endswith(".txt") and ".ckpt." not in p
            and int(os.path.basename(p)[1:].split(".")[0]) > start]
        m["lake.manifest_bytes_per_commit"] = _mean(sizes)
        eq_ids = {str(s["id"]) for s in by_name.get("lake.read_eq", [])}
        scanned = sum(j["records_read"] for j in jobs if j["span"] in eq_ids)
        rows = sum(r["fp"][0] for r in values["reads"] if r["kind"] == "eq")
        m["lake.read_eq_rows_scanned_per_row"] = scanned / max(rows, 1)
        pr = [r["files_scanned"] / max(r["files_live"], 1)
              for r in values["reads"] if r["kind"] == "pruned"
              and "files_live" in r]
        m["lake.read_pruned_files_scanned_per_file_live"] = _mean(pr)

    # ------------------------------------------------------- streaming
    if workload == "stream_upsert":
        run = values["stream_run_id"]
        prog = [p for p in events if p["type"] == "progress"
                and p["run"] == run and p["rows"] > 0
                and t0 <= ns(p["wall_ms"]) <= t1]
        units = len(prog) or 1
        m["streaming.batches"] = len(prog)
        for k, f in [("trigger_ms", "trigger"), ("add_batch_ms", "add_batch"),
                     ("get_batch_ms", "get_batch"),
                     ("query_planning_ms", "planning"),
                     ("wal_commit_ms", "wal_commit")]:
            m[f"streaming.{k}"] = _mean([p[f] for p in prog])
        m["streaming.state_rows"] = prog[-1]["state_rows"] if prog else 0
        m["streaming.start_ms"] = _mean(span_ms("streaming.start"))
        m["streaming.stop_ms"] = _mean(span_ms("streaming.stop"))
        m["streaming.backlog_files_max"] = values["backlog_files_max"]
        m["streaming.generator_late_ms_max"] = values["generator_late_ms_max"]
        batches = {str(p["batch"]) for p in prog}
        jobs = [j for j in jobs if j["batch"] in batches]
        # a trigger's driver gap: its wall time not covered by its jobs
        gaps = []
        for p in prog:
            cov = _union_ms([(ns(j["t0"]), ns(j["t1"])) for j in jobs
                             if j["batch"] == str(p["batch"])])
            gaps.append(max(0.0, p["trigger"] - cov / 1e6))
        m["spark.driver_gap_ms"] = _mean(gaps)
        # the engine's own driver calls carry no span; its tasks carry the
        # span that started the query (the stream thread inherits it)
        fs_spans = {"0"} | {str(s["id"]) for s in by_name["streaming.start"]}
        fs_units = units
    else:
        ids = {str(s["id"]) for s in op_spans}
        jobs = [j for j in jobs if j["span"] in ids]
        gap = 0.0
        by_span = {}
        for j in jobs:
            by_span.setdefault(j["span"], []).append(j)
        for s in op_spans:
            cov = _union_ms([(ns(j["t0"]), ns(j["t1"]))
                             for j in by_span.get(str(s["id"]), [])])
            gap += max(0.0, (s["t1"] - s["t0"]) - cov) / 1e6
        m["spark.driver_gap_ms"] = gap / units

    # --------------------------------------------------------- queries
    if workload == "analytics":
        fam = values.get("families", {})
        if set(fam) != set(MIX):
            raise ValueError(f"harness mix {sorted(fam)} != {MIX}")
        for q in MIX:
            tot = sum(span_ms(f"queries.{q}")) / 1000.0
            m[f"queries.{q}_s"] = tot / units
            if fam.get(q) in FAMILIES:
                m[f"queries.{fam[q]}_s"] += tot / units

    # ------------------------------------------------ catalyst, spark
    m["catalyst.executions"] = len(qes) / units
    for k in ("analysis", "optimization", "planning"):
        m[f"catalyst.{k}_ms"] = sum(q[k] for q in qes) / units
    m["spark.jobs"] = len(jobs) / units
    for k, f in [("stages", "stages"), ("tasks", "tasks"),
                 ("shuffle_write_bytes", "shuffle_write"),
                 ("shuffle_read_bytes", "shuffle_read"),
                 ("input_bytes", "input"), ("spill_bytes", "spill")]:
        m[f"spark.{k}"] = sum(j[f] for j in jobs) / units
    m["spark.job_busy_ms"] = _union_ms(
        [(ns(j["t0"]), ns(j["t1"])) for j in jobs]) / 1e6 / units

    # -------------------------------------------------------------- fs
    for row in fs:
        if row["phase"] == "measure" and row["span"] in fs_spans:
            for k in FS_CALLS:
                m[f"fs.{k}"] += row[k] / fs_units
    m["fs.bytes_read"] = phase["bytes_read"] / fs_units
    m["fs.bytes_written"] = phase["bytes_written"] / fs_units

    # ---------------------------------------------------------- client
    for k, v in e2e.items():
        m[f"client.{k}"] = v
    m["client.failed_frac"] = res["failed"] / max(1, res["attempted"])
    m["client.pass_s"] = _pct(samples.get("pass_s", []), 50)
    if workload == "lake_rw":
        for side in ("write", "read"):
            xs = samples.get(f"{side}_ms", [])
            m[f"client.{side}_ms_p50"] = _pct(xs, 50)
            m[f"client.{side}_ms_p90"] = _pct(xs, 90)
    return m
