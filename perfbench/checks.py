"""Output checks that run outside the harness JVM.

- analytics: each mix query's first-pass result (dumped as parquet)
  against its DuckDB oracle SQL over the same generated corpus, with the
  compare rules of `tools/check_oracle.py` (columns sorted by name, rows
  sorted, floats bit-exact, NaN equal to NaN). The corpus is the same in
  every run, so oracle answers are cached. The harness itself checks
  that every timed pass reproduces the first pass's fingerprint.
- lake_rw: the final table and every read, each at the version it
  pinned, against a pandas replay of the same op log.
- stream_upsert: checked inside the harness (sink table against a batch
  `groupBy(user_id).count` over every landed file, one version per
  non-empty micro-batch); nothing left to do here.

`check` returns one message per miss.
"""
import hashlib
import json
import math
import os
import pickle
import zlib

import numpy as np
import pandas as pd


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check(workload, res, inputs, cache_dir):
    if workload == "analytics":
        return check_analytics(inputs, cache_dir)
    if workload == "lake_rw":
        return check_lake(res, inputs)
    return []


# ---------------------------------------------------------------- analytics
def _norm(v):
    if isinstance(v, float):
        return "__NaN__" if math.isnan(v) else v
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _canon(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_norm(r[i]) for i in order) for r in rel.fetchall()]
    rows.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], rows


def _oracle_rows(con, sql, key, cache_dir):
    """The oracle's canonical answer. The corpus is the same in every
    run, so answers are cached by (corpus key, SQL text)."""
    path = os.path.join(cache_dir, hashlib.sha256(
        f"{key}\n{sql}".encode()).hexdigest() + ".pkl")
    try:
        with open(path, "rb") as f:
            return pickle.load(f)
    except (OSError, EOFError, pickle.UnpicklingError):
        pass
    out = _canon(con.sql(sql))
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def check_analytics(inputs, cache_dir):
    import duckdb
    corpus = os.path.join(inputs, "corpus")
    with open(os.path.join(corpus, "KEY")) as f:
        key = f.read().strip()
    dump = os.path.join(inputs, "dump")
    try:
        with open(os.path.join(dump, "oracle_sql.json")) as f:
            oracle = json.load(f)
    except OSError:
        return ["no oracle dump: the set-up pass did not finish"]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{corpus}/{t}.parquet'")
    misses = []
    for name, sql in sorted(oracle.items()):
        try:
            got_cols, got = _canon(
                con.sql(f"SELECT * FROM '{dump}/{name}/*.parquet'"))
            exp_cols, exp = _oracle_rows(con, sql, key, cache_dir)
        except Exception as e:  # a missing dump or an oracle error
            misses.append(f"{name}: compare error {e}")
            continue
        if got_cols != exp_cols:
            misses.append(f"{name}: columns {got_cols} != {exp_cols}")
        elif got != exp:
            bad = sum(1 for a, b in zip(got, exp) if a != b)
            misses.append(f"{name}: {len(got)} rows vs {len(exp)} expected, "
                          f"{bad} differ")
    return misses


# ------------------------------------------------------------------ lake_rw
_DAY0 = np.datetime64("1995-01-01", "D")


def lake_fingerprint(df):
    """The harness's `LakeRw.fingerprint`, computed on a pandas frame."""
    days = (df["o_orderdate"].values.astype("datetime64[D]") - _DAY0) \
        .astype(np.int64)
    cents = np.round(df["o_totalprice"].values * 100).astype(np.int64)
    tag = (df["o_orderstatus"] + "|" + df["o_orderpriority"])
    crc = tag.map(lambda s: zlib.crc32(s.encode())).astype(np.int64)
    return [len(df), int(df["o_orderkey"].sum()), int(df["o_custkey"].sum()),
            int(cents.sum()), int(days.sum()), int(crc.sum())]


def _apply(state, op, lake_dir):
    kind = op["kind"]
    if kind in ("append", "merge"):
        b = pd.read_parquet(os.path.join(lake_dir, op["batch"]))
        b = b.set_index("o_orderkey", drop=False)
        if kind == "append":
            return pd.concat([state, b])
        state = state.drop(index=b.index, errors="ignore")
        return pd.concat([state, b])
    if kind in ("delete", "delete_mor"):
        k = state["o_orderkey"]
        return state[~((k >= op["lo"]) & (k <= op["hi"]))]
    if kind in ("update", "update_mor"):
        k = state["o_orderkey"]
        hit = (k >= op["lo"]) & (k <= op["hi"])
        state = state.copy()
        state.loc[hit, "o_totalprice"] = state.loc[hit, "o_totalprice"] + 1.0
        state.loc[hit, "o_orderstatus"] = "U"
        return state
    return state  # compact, checkpoint, expire: same rows


def _select(state, rd):
    k = state["o_orderkey"]
    if rd["kind"] == "eq":
        return state[k == rd["key"]]
    if rd["kind"] == "pruned":
        return state[(k >= rd["key"]) & (k <= rd["hi"])]
    return state


def check_lake(res, inputs):
    lake_dir = os.path.join(inputs, "lake")
    v = res["values"]
    if "final" not in v:
        return ["no final table reported"]
    with open(os.path.join(lake_dir, "ops.jsonl")) as f:
        ops = [json.loads(x) for x in f if x.strip()]
    writes = v["writes"]
    misses = []
    for w in writes:
        if not w["ok"]:
            misses.append(f"write #{w['i']} ({w['kind']}) failed")
    # version -> number of ops applied when it was published
    pub = [(v["start_version"], 0)]
    for w in writes:
        if w["version"] > w["before"]:
            pub.append((w["version"], w["i"] + 1))

    def ops_at(version):
        n = 0
        for ver, k in pub:
            if ver <= version:
                n = k
        return n

    checks = [(ops_at(r["version"]), r["version"], r) for r in v["reads"]]
    checks.append((ops_at(v["final"]["version"]), v["final"]["version"],
                   {"kind": "full", "fp": v["final"]["fp"], "final": True}))
    checks.sort(key=lambda c: c[0])
    state = pd.read_parquet(os.path.join(lake_dir, "orders.parquet"))
    state = state.set_index("o_orderkey", drop=False)
    applied = 0
    for n, version, rd in checks:
        while applied < n:
            state = _apply(state, ops[applied], lake_dir)
            applied += 1
        exp = lake_fingerprint(_select(state, rd))
        if exp != list(rd["fp"]):
            what = "final table" if rd.get("final") else \
                f"{rd['kind']} read at v{version}"
            misses.append(f"{what}: fingerprint {rd['fp']} != replay {exp}")
    return misses
