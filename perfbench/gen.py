"""Seeded input generator for the lakehouse benchmark.

Everything the engine receives is written here, before the JVM starts:
source tables as parquet, per-step source batches as parquet, and the op
list as JSON. The same seed gives the same op list (run.py checks this by
generating the list twice and comparing).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# orders rows per table; lineitem has LINES_PER_ORDER rows per order
ORDERS = 60_000
LINES_PER_ORDER = 2
STATUSES = np.array(["O", "F", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
WORDS = np.array(["carefully", "final", "deposits", "sleep", "quickly", "regular",
                  "packages", "boost", "furiously", "ironic", "accounts", "haggle",
                  "blithely", "express", "requests", "pending", "theodolites", "bold"])
DAY0 = np.datetime64("1992-01-01")
DAYS = 2405  # 1992-01-01 .. 1998-08-02

# Warm-up prefixes, untimed: every op class on every table once (cdc leaves
# out compaction, its cheapest and rarest op), so that each plan shape is
# planned and compiled (and its code paths loaded) before the timer
# starts; otherwise the first-time costs land at fixed positions of the
# loop and how many of them a run reaches varies.
CDC_WARMUP = [("merge", "dv"), ("merge", "cdf"), ("delete", "dv"), ("delete", "cdf"),
              ("update", "dv"), ("update", "cdf"), ("append", "dv"), ("append", "cdf")]
SERVE_WARMUP = ["lookup", "range", "q1", "q3", "append", "asof", "changes", "lookup"]
# Timed op class schedules, repeated: each cycle of 20 holds the workload's
# mix (cdc: 50% merge, 15% delete/update/append, 5% compact; serve: 45%
# lookup, 20% range, 20% SQL, 5% each of asof/changes/append), spread so
# that any prefix a short run reaches has about that mix. The class order
# is the same for every seed; the seed draws tables' rows, keys, batches
# and literals.
CDC_CYCLE = ["merge", "delete", "merge", "update", "merge", "append", "merge", "compact",
             "merge", "delete", "merge", "update", "merge", "append", "merge", "delete",
             "merge", "update", "merge", "append"]
SERVE_CYCLE = ["lookup", "range", "lookup", "q1", "lookup", "q3", "lookup", "range",
               "lookup", "append", "lookup", "asof", "range", "q1", "lookup", "changes",
               "lookup", "q3", "range", "lookup"]


class Writer:
    """Writes generated tables under `out`; with out=None only the op list
    is produced (the determinism check regenerates it that way)."""
    def __init__(self, out):
        self.out = out

    def __call__(self, name, table):
        if self.out is None:
            return 0
        path = os.path.join(self.out, name)
        pq.write_table(table, path, compression="snappy")
        return os.path.getsize(path)


def orders_table(rng, lo, n):
    keys = np.arange(lo, lo + n, dtype=np.int64)
    comments = np.array([" ".join(w) for w in rng.choice(WORDS, size=(512, 4))])
    return pa.table({
        "o_orderkey": keys,
        "o_custkey": rng.integers(1, 15_001, n, dtype=np.int64),
        "o_orderstatus": rng.choice(STATUSES, n),
        "o_totalprice": rng.integers(90_000, 50_000_000, n) / 100.0,
        "o_orderdate": (DAY0 + rng.integers(0, DAYS, n).astype("timedelta64[D]")),
        "o_orderpriority": rng.choice(PRIORITIES, n),
        "o_comment": rng.choice(comments, n),
    })


def _cents(values, precision):
    """decimal(precision, 2) array whose unscaled values are `values`."""
    words = np.zeros((len(values), 2), dtype=np.int64)  # little-endian 128-bit
    words[:, 0] = values
    return pa.Array.from_buffers(pa.decimal128(precision, 2), len(values),
                                 [None, pa.py_buffer(words.tobytes())])


def lineitem_table(rng, n_orders):
    n = n_orders * LINES_PER_ORDER
    okeys = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), LINES_PER_ORDER)
    lnum = np.tile(np.arange(1, LINES_PER_ORDER + 1, dtype=np.int32), n_orders)
    price_cents = rng.integers(90_000, 10_000_000, n)
    disc = rng.integers(0, 11, n)
    return pa.table({
        "l_orderkey": okeys,
        "l_linenumber": lnum,
        "l_quantity": rng.integers(1, 51, n, dtype=np.int32),
        "l_extendedprice": _cents(price_cents, 12),
        "l_discount": _cents(disc, 4),
        "l_shipdate": (DAY0 + rng.integers(0, DAYS, n).astype("timedelta64[D]")),
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
    })


def recent_keys(rng, max_key, k):
    """k distinct keys among the newest fifth of 1..max_key, Zipf-skewed
    toward the newest."""
    window = min(max_key, max(5 * k, max_key // 5))
    p = np.arange(1, window + 1, dtype=np.float64) ** -0.8
    p /= p.sum()
    offs = rng.choice(window, size=k, replace=False, p=p)
    return np.sort(max_key - offs).astype(np.int64)


def schedule(cycle, n):
    return [cycle[i % len(cycle)] for i in range(n)]


def gen_cdc(rng, write, n_ops):
    """orders_dv / orders_cdf start from one orders table; each op class
    alternates between the two tables."""
    base = orders_table(rng, 1, ORDERS)
    sizes = {"orders": write("orders.parquet", base)}
    max_key = {"dv": ORDERS, "cdf": ORDERS}
    seen = {}
    ops = []
    timed = schedule(CDC_CYCLE, n_ops - len(CDC_WARMUP))
    for i, cls in enumerate([c for c, _ in CDC_WARMUP] + timed):
        if i < len(CDC_WARMUP):
            table = CDC_WARMUP[i][1]
        else:
            table = ("dv", "cdf")[seen.get(cls, 0) % 2]
            seen[cls] = seen.get(cls, 0) + 1
        op = {"id": i, "cls": cls, "table": table, "warm": i < len(CDC_WARMUP)}
        if cls == "merge":
            matched = recent_keys(rng, max_key[table], 900)
            fresh = orders_table(rng, max_key[table] + 1, 100)
            max_key[table] += 100
            upd = orders_table(rng, 1, 900)
            upd = upd.set_column(0, "o_orderkey", pa.array(matched))
            batch = pa.concat_tables([upd, fresh])
            op["file"] = f"batch_{i:05d}.parquet"
            op["rows"] = batch.num_rows
            sizes[op["file"]] = write(op["file"], batch)
        elif cls == "append":
            batch = orders_table(rng, max_key[table] + 1, 1000)
            max_key[table] += 1000
            op["file"] = f"batch_{i:05d}.parquet"
            op["rows"] = batch.num_rows
            sizes[op["file"]] = write(op["file"], batch)
        elif cls == "delete":
            op["keys"] = recent_keys(rng, max_key[table], 200).tolist()
        elif cls == "update":
            lo = int(recent_keys(rng, max_key[table] - 1000, 1)[0])
            op["lo"], op["hi"] = lo, lo + 999
            op["status"] = str(rng.choice(STATUSES))
        ops.append(op)
    return ops, sizes, {"orders": base.num_rows}


def gen_serve(rng, write, n_ops):
    orders = orders_table(rng, 1, ORDERS)
    lines = lineitem_table(rng, ORDERS)
    sizes = {"orders": write("orders.parquet", orders),
             "lineitem": write("lineitem.parquet", lines)}
    max_key = ORDERS
    appends = 0
    ops = []
    timed = schedule(SERVE_CYCLE, n_ops - len(SERVE_WARMUP))
    for i, cls in enumerate(SERVE_WARMUP + timed):
        op = {"id": i, "cls": cls, "warm": i < len(SERVE_WARMUP)}
        if cls == "lookup":
            op["keys"] = recent_keys(rng, max_key, int(rng.integers(1, 9))).tolist()
        elif cls in ("range", "asof"):
            width = int(rng.integers(ORDERS // 1000, ORDERS // 100 + 1))
            lo = int(rng.integers(1, ORDERS - width))
            op["lo"], op["hi"] = lo, lo + width - 1
            # time travel to the state after append #k (-1: the base)
            if cls == "asof":
                op["after_append"] = int(rng.integers(-1, appends))
        elif cls in ("q1", "q3"):
            op["date"] = str(DAY0 + int(rng.integers(DAYS // 4, DAYS)))
        elif cls == "changes":
            # change feed from one of the last three appends on
            op["from_append"] = int(rng.integers(max(0, appends - 3), appends))
        elif cls == "append":
            batch = orders_table(rng, max_key + 1, 200)
            max_key += 200
            op["file"] = f"batch_{i:05d}.parquet"
            op["rows"] = batch.num_rows
            op["append_no"] = appends
            appends += 1
            sizes[op["file"]] = write(op["file"], batch)
        ops.append(op)
    return ops, sizes, {"orders": orders.num_rows, "lineitem": lines.num_rows}


VOCAB_SIZE = 4000
STOP = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"]


def _doc(rng, vocab):
    n = int(rng.integers(40, 120))
    toks = rng.choice(vocab, n)
    stops = rng.random(n) < 0.25
    toks[stops] = rng.choice(STOP, int(stops.sum()))
    return toks


def gen_curate(rng, write, n_waves):
    """Wave 0 (1000 fresh docs) seeds the corpus; waves 1.. mix fresh docs,
    exact re-posts of earlier docs, near-duplicates (seeded token edits)
    and a few too-short docs the quality gate drops."""
    vocab = np.array([f"w{i}" for i in range(VOCAB_SIZE)])
    seen = []  # token arrays of every doc generated so far
    next_id = 0
    sizes, rows = {}, {}
    ops = []
    for w in range(n_waves):
        ids, texts, kinds = [], [], []
        plan = ["fresh"] * 1000 if w == 0 else (
            ["fresh"] * 140 + ["repost"] * 30 + ["near"] * 20 + ["short"] * 10)
        for kind in plan:
            if kind == "fresh":
                toks = _doc(rng, vocab)
                seen.append(toks)
            elif kind == "repost":
                toks = seen[int(rng.integers(0, len(seen)))]
            elif kind == "near":
                toks = seen[int(rng.integers(0, len(seen)))].copy()
                edits = rng.random(len(toks)) < 0.05
                toks[edits] = rng.choice(vocab, int(edits.sum()))
            else:
                toks = rng.choice(vocab, 3)
            ids.append(next_id)
            next_id += 1
            texts.append(" ".join(toks))
            kinds.append(kind)
        perm = rng.permutation(len(ids))
        t = pa.table({"doc_id": pa.array(np.array(ids)[perm], pa.int64()),
                      "text": pa.array([texts[j] for j in perm], pa.string()),
                      "source": pa.array([kinds[j] for j in perm], pa.string())})
        name = f"wave_{w:03d}.parquet"
        sizes[name] = write(name, t)
        rows[name] = t.num_rows
        # wave 0 is the set-up's curate(); wave 1 warms the incremental path
        ops.append({"id": w, "cls": "curate" if w == 0 else "wave",
                    "file": name, "rows": t.num_rows, "warm": w == 1})
    return ops, sizes, rows


def generate(workload, seed, out, n_ops):
    """Writes the inputs of one run under `out` (nothing when out is None)
    and returns the op list plus the seed and the generated sizes."""
    if out is not None:
        os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    ops, sizes, rows = {"cdc_upsert": gen_cdc, "lake_serve": gen_serve,
                        "curate_waves": gen_curate}[workload](rng, Writer(out), n_ops)
    if out is not None:
        with open(os.path.join(out, "ops.json"), "w") as f:
            json.dump(ops, f, sort_keys=True)
    return ops, {"seed": seed, "ops": len(ops), "files": len(sizes),
                 "bytes": sum(sizes.values()), "rows": rows}
