"""Seeded input generation for the three benchmark workloads.

Everything the program under test reads is made here:

- the analytics corpus: the TPC-H-like star schema plus `events`,
  `documents` and `embeddings`, with the same schemas, value domains and
  key ranges as the suite's fixtures expect (one fixed seed for every
  run: the run's `--seed` only orders the analytics passes);
- the lake_rw start table (`orders`) and the writer's op log with its
  batches (key skew comes from a few seeded hot key ranges);
- the stream_upsert `events` batch files, one file per scheduled landing.

The lake_rw and stream_upsert inputs come from the run's `--seed`.
Same seed, same bytes. The generator writes parquet with pyarrow so the
program sees the same physical types as the suite's own testdata.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("the fast key order sort table scan merge part window small hash "
         "join batch stream spark group query row data slow filter customer "
         "line value agg column big vector a").split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PNOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "wheel", "valve"]
STATUS = ["O", "P", "F"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
DAY0 = dt.datetime(1995, 1, 1)
EVENT0 = dt.datetime(2024, 1, 1)


def rng_for(seed, stream):
    """An independent generator per (seed, stream name)."""
    return np.random.default_rng([seed, sum(map(ord, stream))])


def _money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def _days(r, lo, hi, n):
    d = r.integers(lo, hi, n).astype("timedelta64[D]")
    return (np.datetime64(DAY0, "us") + d).astype("datetime64[us]")


def orders_table(seed, n, n_cust, key0=0, stream="orders"):
    r = rng_for(seed, stream)
    return pa.table({
        "o_orderkey": pa.array(np.arange(key0, key0 + n, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": pa.array(r.choice(STATUS, n)),
        "o_totalprice": pa.array(_money(r, 1000, 500000, n)),
        "o_orderdate": pa.array(_days(r, 0, 2404, n), pa.timestamp("us")),
        "o_orderpriority": pa.array(r.choice(PRIORITY, n)),
    })


def _texts(r, n):
    lens = r.integers(8, 90, n)
    words = r.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    # a few exact and near duplicates, as real crawls have
    for i in range(max(1, n // 600)):
        a, b = r.integers(0, n, 2)
        out[b] = out[a]
        c = int(r.integers(0, n))
        toks = out[a].split()
        toks[len(toks) // 2] = "changed"
        out[c] = " ".join(toks)
    return out


def corpus(out_dir, seed, sf):
    """The analytics corpus at scale factor `sf` (sf=0.1 is the suite's
    bench scale: 150k orders, 600k lineitems)."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150000 * sf)
    n_supp = max(10, int(10000 * sf))
    n_part = int(200000 * sf)
    n_ord = int(1500000 * sf)
    n_line = int(6000000 * sf)
    n_evt = int(1000000 * sf)
    n_user = max(10, n_cust // 10)
    n_doc = int(50000 * sf)
    n_emb = max(100, int(20000 * sf))
    r = rng_for(seed, "corpus")
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(r.choice(SEGMENTS, n_cust))})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp))})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{PADJ[a]} {PNOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": pa.array(r.choice(PTYPES, n_part)),
        "p_size": pa.array(r.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(
            np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2))})
    t["orders"] = orders_table(seed, n_ord, n_cust)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(r.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900, 105000, n_line)),
        "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(r.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(r.choice(["O", "F"], n_line)),
        "l_shipdate": pa.array(_days(r, 1, 2499, n_line), pa.timestamp("us"))})
    t["events"] = events_table(r, 0, n_evt, n_user)
    texts = _texts(r, n_doc)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(r.choice(LANGS, n_doc, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array(np.array([len(x) for x in texts], np.int64))})
    emb = r.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb, dtype=np.int32))})
    for name, tab in t.items():
        pq.write_table(tab, f"{out_dir}/{name}.parquet")


def events_table(r, id0, n, n_user):
    secs = np.sort(r.uniform(0, 30 * 86400, n))
    ts = np.datetime64(EVENT0, "us") + (secs * 1e6).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(id0, id0 + n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_user, n, dtype=np.int64)),
        "event_type": pa.array(r.choice(EVENT_TYPES, n)),
        "value": pa.array(_money(r, 0, 560, n)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]})


# ---------------------------------------------------------------- lake_rw
LAKE_ROWS = 150000
LAKE_CUST = 15000
# the writer's fixed cycle of kinds; the seed picks each op's keys and
# batches. Every third SQL-capable write and every other maintenance op
# goes through SQL, so runs of any seed do the same kinds of work.
WRITE_CYCLE = ["append", "merge", "delete", "merge", "update",
               "delete_mor", "merge", "update_mor", "append", "merge"]
SQL_KINDS = {"merge", "delete", "update"}
MAINT_EVERY = {"compact": 10, "checkpoint": 7, "expire": 13}


def lake_inputs(out_dir, seed, n_ops):
    """Start table plus `n_ops` writer ops. Each op is one JSON line the
    harness executes verbatim; append/merge batches are parquet files."""
    os.makedirs(f"{out_dir}/batches", exist_ok=True)
    pq.write_table(orders_table(seed, LAKE_ROWS, LAKE_CUST),
                   f"{out_dir}/orders.parquet")
    r = rng_for(seed, "lake_ops")
    # hot ranges: a few narrow key bands take most merge/update traffic
    hot = [int(h) for h in r.integers(0, LAKE_ROWS - 2000, 4)]
    next_key = LAKE_ROWS
    ops = []
    write_no = 0

    def band(width):
        if r.random() < 0.8:
            lo = hot[int(r.integers(0, len(hot)))] + int(
                r.integers(0, 2000 - width))
        else:
            lo = int(r.integers(0, next_key - width))
        return lo, lo + width - 1

    while len(ops) < n_ops:
        i = len(ops)
        kind = WRITE_CYCLE[write_no % len(WRITE_CYCLE)]
        op = {"i": i, "kind": kind,
              "sql": kind in SQL_KINDS and write_no % 3 == 1}
        if kind == "append":
            n = int(r.integers(500, 2000))
            b = orders_table(seed * 1000 + i, n, LAKE_CUST, key0=next_key,
                             stream=f"append{i}")
            next_key += n
            op["batch"] = f"batches/b{i}.parquet"
            pq.write_table(b, f"{out_dir}/{op['batch']}")
        elif kind == "merge":
            lo, hi = band(int(r.integers(200, 800)))
            n_new = int(r.integers(50, 300))
            upd = orders_table(seed * 1000 + i, hi - lo + 1, LAKE_CUST,
                               key0=lo, stream=f"merge{i}")
            new = orders_table(seed * 1000 + i, n_new, LAKE_CUST,
                               key0=next_key, stream=f"mergenew{i}")
            next_key += n_new
            op["batch"] = f"batches/b{i}.parquet"
            pq.write_table(pa.concat_tables([upd, new]),
                           f"{out_dir}/{op['batch']}")
        elif kind in ("delete", "delete_mor"):
            op["lo"], op["hi"] = band(int(r.integers(20, 200)))
        else:  # update, update_mor: price + 1 and a marker status
            op["lo"], op["hi"] = band(int(r.integers(50, 400)))
        ops.append(op)
        write_no += 1
        for mk, every in MAINT_EVERY.items():
            if write_no % every == 0:
                ops.append({"i": len(ops), "kind": mk,
                            "sql": write_no // every % 2 == 1})
    with open(f"{out_dir}/ops.jsonl", "w") as f:
        for op in ops:
            f.write(json.dumps(op) + "\n")
    # warm-up: the first op of each kind, through the API and, where the
    # kind has one, through SQL, run on a set-up table before timing
    sql_capable = SQL_KINDS | set(MAINT_EVERY)
    with open(f"{out_dir}/warmup.jsonl", "w") as f:
        for kind in dict.fromkeys(WRITE_CYCLE + list(MAINT_EVERY)):
            first = next(o for o in ops if o["kind"] == kind)
            for sql in [False, True] if kind in sql_capable else [False]:
                f.write(json.dumps(dict(first, sql=sql)) + "\n")
    # the reader's key choices: point keys and range starts, drawn over
    # the start table's key range (appended keys exist only later)
    rr = rng_for(seed, "lake_reads")
    reads = []
    for i in range(4000):
        kind = ["eq", "eq", "pruned", "eq", "pruned", "full", "eq",
                "time_travel"][i % 8]
        reads.append({"kind": kind,
                      "key": int(rr.integers(0, LAKE_ROWS)),
                      "width": int(rr.integers(500, 5000)),
                      "back": int(rr.integers(1, 6))})
    with open(f"{out_dir}/reads.jsonl", "w") as f:
        for rd in reads:
            f.write(json.dumps(rd) + "\n")


# ---------------------------------------------------------- stream_upsert
STREAM_USERS = 1500


def stream_inputs(out_dir, seed, n_files, rows_per_file, n_prime=8):
    """`n_files` events batch files (one per scheduled landing) plus
    `n_prime` priming files for set-up and warm-up."""
    os.makedirs(f"{out_dir}/stage", exist_ok=True)
    r = rng_for(seed, "stream")
    for i in range(-n_prime, n_files):
        t = events_table(r, (i + n_prime) * rows_per_file, rows_per_file,
                         STREAM_USERS)
        name = f"prime{i + n_prime}" if i < 0 else f"f{i:05d}"
        pq.write_table(t.select(["event_id", "user_id"]),
                       f"{out_dir}/stage/{name}.parquet")
