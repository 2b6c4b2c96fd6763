"""Independent models the benchmark checks the engine's answers against.

The models replay the op list over the generated parquet with DuckDB;
they never touch the engine's table format. Each check returns the ids of
ops whose answer was wrong plus a list of final-state mismatches.
"""
import os
from decimal import Decimal

import duckdb

ORDERS_CHK = ("count(*), sum(o_orderkey), sum(CAST(round(o_totalprice * 100) AS BIGINT)"
              " + ascii(o_orderstatus) * 1000003 + o_custkey * 7)")


def live_bytes(con, query, scratch):
    """Size of the query's rows written once as plain snappy parquet: the
    denominator of space amplification."""
    path = os.path.join(scratch, "live.parquet")
    con.execute(f"COPY ({query}) TO '{path}' (FORMAT PARQUET, COMPRESSION SNAPPY)")
    n = os.path.getsize(path)
    os.remove(path)
    return n


def _same(got, want):
    """Engine answer (strings) vs model answer (numbers), exactly."""
    return all(Decimal(str(got.get(k, "0"))) == Decimal(str(w if w is not None else 0))
               for k, w in zip(("n", "c1", "c2"), want))


def check_cdc(inputs, ops, records, final, scratch):
    con = duckdb.connect()
    for t in ("dv", "cdf"):
        con.execute(f"CREATE TABLE t_{t} AS SELECT * FROM read_parquet('{inputs}/orders.parquet')")
    wrong, mismatches = [], []
    changed = {}  # op id -> rows the op changed
    feed = {"insert": 0, "delete": 0, "update_preimage": 0, "update_postimage": 0}
    for rec in records:
        op = ops[rec["id"]]
        tbl, cls = f"t_{op['table']}", op["cls"]
        cdf = op["table"] == "cdf"
        if cls in ("merge", "append"):
            src = f"read_parquet('{inputs}/{op['file']}')"
            matched = 0
            if cls == "merge":
                matched = con.execute(f"SELECT count(*) FROM {tbl} WHERE o_orderkey IN "
                                      f"(SELECT o_orderkey FROM {src})").fetchone()[0]
                con.execute(f"DELETE FROM {tbl} WHERE o_orderkey IN (SELECT o_orderkey FROM {src})")
            con.execute(f"INSERT INTO {tbl} SELECT * FROM {src}")
            changed[rec["id"]] = op["rows"]
            if cdf:
                feed["insert"] += op["rows"] - matched
                feed["update_preimage"] += matched
                feed["update_postimage"] += matched
        elif cls == "delete":
            keys = ",".join(map(str, op["keys"]))
            n = con.execute(f"SELECT count(*) FROM {tbl} WHERE o_orderkey IN ({keys})").fetchone()[0]
            con.execute(f"DELETE FROM {tbl} WHERE o_orderkey IN ({keys})")
            if "error" not in rec and rec["answer"].get("deleted") != n:
                wrong.append(rec["id"])
            changed[rec["id"]] = n
            if cdf:
                feed["delete"] += n
        elif cls == "update":
            where = f"o_orderkey BETWEEN {op['lo']} AND {op['hi']}"
            n = con.execute(f"SELECT count(*) FROM {tbl} WHERE {where}").fetchone()[0]
            con.execute(f"UPDATE {tbl} SET o_orderstatus = '{op['status']}', "
                        f"o_totalprice = o_totalprice + 1.0 WHERE {where}")
            changed[rec["id"]] = n
            if cdf:
                feed["update_preimage"] += n
                feed["update_postimage"] += n
    for t in ("dv", "cdf"):
        want = con.execute(f"SELECT {ORDERS_CHK} FROM t_{t}").fetchone()
        if not _same(final[t], want):
            mismatches.append(f"orders_{t}: engine {final[t]} vs model {want}")
    got_feed = {k: final["cdf_changes"].get(k, 0) for k in feed}
    if got_feed != feed:
        mismatches.append(f"orders_cdf change feed: engine {got_feed} vs model {feed}")
    live = sum(live_bytes(con, f"SELECT * FROM t_{t}", scratch) for t in ("dv", "cdf"))
    return wrong, mismatches, changed, live


def check_serve(inputs, ops, records, final, scratch):
    con = duckdb.connect()
    con.execute(f"CREATE TABLE base AS SELECT * FROM read_parquet('{inputs}/orders.parquet')")
    con.execute("CREATE TABLE apps AS SELECT *, 0 AS append_no FROM base LIMIT 0")
    con.execute(f"CREATE TABLE li AS SELECT * FROM read_parquet('{inputs}/lineitem.parquet')")
    cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority, o_comment"
    done = 0  # appends committed so far

    def state(upto):
        return (f"(SELECT * FROM base UNION ALL SELECT {cols} FROM apps "
                f"WHERE append_no <= {upto})")

    wrong = []
    for rec in records:
        op = ops[rec["id"]]
        cls = op["cls"]
        if cls == "append":
            con.execute(f"INSERT INTO apps SELECT *, {op['append_no']} "
                        f"FROM read_parquet('{inputs}/{op['file']}')")
            done += 1
            continue
        cur = state(done - 1)
        if cls == "lookup":
            q = f"SELECT {ORDERS_CHK} FROM {cur} WHERE o_orderkey IN ({','.join(map(str, op['keys']))})"
        elif cls == "range":
            q = f"SELECT {ORDERS_CHK} FROM {cur} WHERE o_orderkey BETWEEN {op['lo']} AND {op['hi']}"
        elif cls == "asof":
            q = (f"SELECT {ORDERS_CHK} FROM {state(op['after_append'])} "
                 f"WHERE o_orderkey BETWEEN {op['lo']} AND {op['hi']}")
        elif cls == "changes":
            q = (f"SELECT {ORDERS_CHK} FROM apps WHERE append_no >= {op['from_append']} "
                 f"AND append_no < {done}")
        elif cls == "q1":
            q = (f"SELECT count(*), sum(n * (ascii(o_orderstatus) * 100 + ascii(o_orderpriority))), "
                 f"sum(cents) FROM (SELECT o_orderstatus, o_orderpriority, count(*) AS n, "
                 f"sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents FROM {cur} "
                 f"WHERE o_orderdate <= DATE '{op['date']}' GROUP BY ALL)")
        elif cls == "q3":
            q = (f"SELECT count(*), sum(o_orderkey), sum(revenue) FROM ("
                 f"SELECT o.o_orderkey, sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue "
                 f"FROM base o JOIN li l ON l.l_orderkey = o.o_orderkey "
                 f"WHERE o.o_orderdate < DATE '{op['date']}' AND l.l_shipdate > DATE '{op['date']}' "
                 f"GROUP BY o.o_orderkey ORDER BY revenue DESC, o.o_orderkey LIMIT 10)")
        want = con.execute(q).fetchone()
        if "error" in rec or not _same(rec["answer"], want):
            wrong.append(rec["id"])
    mismatches = []
    want = con.execute(f"SELECT {ORDERS_CHK} FROM {state(done - 1)}").fetchone()
    if not _same(final["orders"], want):
        mismatches.append(f"orders: engine {final['orders']} vs model {want}")
    live = (live_bytes(con, f"SELECT * FROM {state(done - 1)}", scratch)
            + live_bytes(con, "SELECT * FROM base", scratch)
            + live_bytes(con, "SELECT * FROM li", scratch))
    return wrong, mismatches, live


def check_curate(inputs, ops, records, final, kinds, scratch):
    """Invariants any correct curation satisfies, per wave and at the end.
    `kinds` maps each generated doc id to fresh/repost/near/short."""
    wrong, mismatches = [], []
    counts = {int(v): n for v, n in final["rows_at_version"].items()}
    versions = [r["answer"].get("version_before") for r in records] + [max(counts)]
    for i, rec in enumerate(records):
        a = rec.get("answer", {})
        if "error" in rec:
            wrong.append(rec["id"])
            continue
        kept = counts[versions[i + 1]] - counts[a["version_before"]]
        ok = (a["input"] == ops[rec["id"]]["rows"]
              and 0 <= a["appended"] <= a["after_quality"] <= a["input"]
              and kept == a["appended"])
        if not ok:
            wrong.append(rec["id"])
    ids = final["doc_ids"]
    if final["distinct_fp"] != len(ids) or final["distinct_text"] != len(ids):
        mismatches.append("two curated docs share a fingerprint or a text")
    unknown = [d for d in ids if d not in kinds]
    if unknown:
        mismatches.append(f"{len(unknown)} curated ids were never generated")
    short = [d for d in ids if kinds.get(d) == "short"]
    if short:
        mismatches.append(f"{len(short)} too-short docs passed the quality gate")
    con = duckdb.connect()
    con.execute("CREATE TABLE kept (doc_id BIGINT)")
    con.executemany("INSERT INTO kept VALUES (?)", [(d,) for d in ids])
    live = live_bytes(con, f"SELECT w.* FROM read_parquet('{inputs}/wave_*.parquet') w "
                           f"SEMI JOIN kept USING (doc_id)", scratch)
    return wrong, mismatches, live
