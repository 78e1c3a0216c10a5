"""Seeded statement plans for the two workloads, with their expectations.

Every SQL statement is written twice: in the engine's ClickHouse dialect
(what the server receives) and in DuckDB SQL, which computes the
expected answer over the same fixture files.  Table-function statements
have no DuckDB twin; their expectations are the counts and sums pinned
in `pins.json` at the commit that introduced the benchmark.  The answers
of scan's insert-then-read steps come from the rows the client sent (see
Door.scala).
"""

import json
import os
import random

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
TOL = 1e-6  # relative tolerance for float aggregates
ROWS = {"base": {"lineitem": 600_000, "orders": 150_000, "events": 100_000},
        "x10": {"lineitem": 6_000_000, "orders": 1_500_000,
                # the table functions' inputs stay at the sf0.1 size
                "documents": 5_000, "embeddings": 2_000}}
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
HASH_COLS = ("l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
             "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate")
MT_DDL = ("`l_returnflag` LowCardinality(String), `l_linestatus` LowCardinality(String), "
          "`l_quantity` Float64, `l_extendedprice` Float64")

# table-function variants: the seed picks among these; each one is pinned
MINHASH_THRESHOLDS = [0.6, 0.7, 0.8]
BM25_TERMS = ["spark vector", "hash join index", "stream merge window", "bloom token cache"]
SEMDEDUP_THRESHOLDS = [0.9, 0.95]

WORKLOADS = {
    # name: (data set, door, mode)
    "dash": ("base", "http", "loop"),
    "scan": ("x10", "native", "passes"),
}
DASH_CONNECTIONS = 4
# untimed warm-up: whole schedule cycles per connection (loop) or whole
# passes. dash latency keeps falling for ~200 requests after start-up as
# the JIT compiles the per-request path (440 ms in the first 5 s, 300 ms
# after 20 s); measuring inside that ramp made runs 0.2 apart. After two
# cycles (192 requests) the measured window's quarters are flat.
WARMUP = {"loop": 2, "passes": 1}

INGEST_BATCH_ROWS = 5000


def _dash(rng):
    """About 8 dashboard aggregates; 3 seeded variants of each. Filter
    parameters vary within narrow bands, so every seed's variants cost
    about the same."""
    out = []
    for v in range(3):
        q = 5 + int(rng.random() * 40)
        d = round(0.02 + int(rng.random() * 8) / 100.0, 2)
        out.append(("d1_filtered_count", "lineitem",
                    f"SELECT count() AS c FROM lineitem WHERE l_quantity > {q} AND l_discount < {d}",
                    f"SELECT count(*) FROM lineitem WHERE l_quantity > {q} AND l_discount < {d}"))
        day = f"1998-{1 + int(rng.random() * 6):02d}-01"
        out.append(("d2_flag_status", "lineitem",
                    "SELECT l_returnflag, l_linestatus, count() AS c, sum(l_extendedprice) AS s "
                    f"FROM lineitem WHERE l_shipdate >= toDateTime('{day} 00:00:00') "
                    "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
                    "SELECT l_returnflag, l_linestatus, count(*), sum(l_extendedprice) "
                    f"FROM lineitem WHERE l_shipdate >= TIMESTAMP '{day} 00:00:00' "
                    "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"))
        p = PRIORITIES[int(rng.random() * len(PRIORITIES))]
        out.append(("d3_uniq_customers", "orders",
                    f"SELECT uniqExact(o_custkey) AS u FROM orders WHERE o_orderpriority = '{p}'",
                    f"SELECT count(DISTINCT o_custkey) FROM orders WHERE o_orderpriority = '{p}'"))
        st = "FOP"[int(rng.random() * 3)]
        out.append(("d4_top_customers", "orders",
                    "SELECT o_custkey, count() AS c, sum(o_totalprice) AS t FROM orders "
                    f"WHERE o_orderstatus = '{st}' GROUP BY o_custkey "
                    "ORDER BY c DESC, o_custkey ASC LIMIT 10",
                    "SELECT o_custkey, count(*) AS c, sum(o_totalprice) FROM orders "
                    f"WHERE o_orderstatus = '{st}' GROUP BY o_custkey "
                    "ORDER BY c DESC, o_custkey ASC LIMIT 10"))
        dd = 8 + int(rng.random() * 7)
        out.append(("d5_events_by_type", "events",
                    "SELECT event_type, count() AS c, avg(value) AS a FROM events "
                    f"WHERE ts >= toDateTime('2024-01-{dd:02d} 00:00:00') "
                    "GROUP BY event_type ORDER BY event_type",
                    "SELECT event_type, count(*), avg(value) FROM events "
                    f"WHERE ts >= TIMESTAMP '2024-01-{dd:02d} 00:00:00' "
                    "GROUP BY event_type ORDER BY event_type"))
        t = EVENT_TYPES[int(rng.random() * len(EVENT_TYPES))]
        out.append(("d6_uniq_users", "events",
                    f"SELECT uniqExact(user_id) AS u FROM events WHERE event_type = '{t}'",
                    f"SELECT count(DISTINCT user_id) FROM events WHERE event_type = '{t}'"))
        t2 = EVENT_TYPES[int(rng.random() * len(EVENT_TYPES))]
        out.append(("d7_top_users", "events",
                    "SELECT user_id, count() AS c, sum(value) AS v FROM events "
                    f"WHERE event_type = '{t2}' GROUP BY user_id ORDER BY c DESC, user_id ASC LIMIT 10",
                    "SELECT user_id, count(*) AS c, sum(value) FROM events "
                    f"WHERE event_type = '{t2}' GROUP BY user_id ORDER BY c DESC, user_id ASC LIMIT 10"))
        x = 100_000 + int(rng.random() * 50_000)
        out.append(("d8_orders_by_year", "orders",
                    "SELECT toYear(o_orderdate) AS y, count() AS c, sum(o_totalprice) AS t "
                    f"FROM orders WHERE o_totalprice > {x} GROUP BY y ORDER BY y",
                    "SELECT year(o_orderdate) AS y, count(*), sum(o_totalprice) "
                    f"FROM orders WHERE o_totalprice > {x} GROUP BY y ORDER BY y"))
    return [dict(template=t, table=tb, sql=s, duck=d) for t, tb, s, d in out]


def _scan(rng, mt_dir):
    k = int(rng.random() * 40)
    return [
        dict(template="q1_scan_count", table="lineitem",
             sql="SELECT count() AS cnt FROM lineitem",
             duck="SELECT count(*) FROM lineitem"),
        dict(template="q2_group_sum", table="lineitem",
             sql="SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem "
                 "GROUP BY l_returnflag ORDER BY l_returnflag",
             duck="SELECT l_returnflag, sum(l_quantity) FROM lineitem "
                  "GROUP BY l_returnflag ORDER BY l_returnflag"),
        dict(template="q3_uniq_exact", table="orders",
             sql="SELECT uniqExact(o_custkey) AS u FROM orders",
             duck="SELECT count(DISTINCT o_custkey) FROM orders"),
        dict(template="q4_hash_scan", table="lineitem",
             sql=f"SELECT sum(pmod(cityHash64({HASH_COLS}), 1000000007)) AS s FROM lineitem",
             pin="q4_hash_scan"),
        dict(template="q9_agg_projection", table="lineitem",
             sql="SELECT l_returnflag, l_linestatus, sum(l_quantity) AS s, "
                 "avg(l_extendedprice) AS a, count() AS n FROM lineitem "
                 "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
             duck="SELECT l_returnflag, l_linestatus, sum(l_quantity), avg(l_extendedprice), "
                  "count(*) FROM lineitem GROUP BY l_returnflag, l_linestatus "
                  "ORDER BY l_returnflag, l_linestatus"),
        dict(template="q10_mergetree_group", table="lineitem",
             sql="SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem_mt "
                 "GROUP BY l_returnflag ORDER BY l_returnflag",
             duck="SELECT l_returnflag, sum(l_quantity) FROM lineitem "
                  "GROUP BY l_returnflag ORDER BY l_returnflag"),
        dict(template="export", table="lineitem", export=True,
             sql=f"SELECT * FROM lineitem WHERE l_orderkey % 40 = {k}",
             duck=f"SELECT count(*), sum(l_orderkey), sum(l_quantity), sum(l_extendedprice) "
                  f"FROM lineitem WHERE l_orderkey % 40 = {k}",
             agg_cols=[0, 4, 5], source_rows=ROWS["x10"]["lineitem"]),
        # one native batch insert into a MergeTree table per pass, and a
        # read whose answer the client derives from the batches it sent
        dict(template="ingest_insert", table=None, sql="", client=True,
             source_rows=INGEST_BATCH_ROWS),
        dict(template="ingest_read", table=None, sql="", client=True, source_rows=0),
    ], [
        f"ATTACH TABLE lineitem_mt ({MT_DDL}) ENGINE = MergeTree "
        f"ORDER BY (l_returnflag, l_linestatus) "
        f"SETTINGS disk = disk(type = local, endpoint = '{mt_dir}')",
        "ALTER TABLE lineitem ADD PROJECTION IF NOT EXISTS p_flags (SELECT l_returnflag, "
        "l_linestatus, sum(l_quantity), avg(l_extendedprice), count() "
        "GROUP BY l_returnflag, l_linestatus)",
    ]


# the table functions read the whole documents and embeddings tables: the
# x10 data set holds them at the sf0.1 size (see fixtures.py)
DOCS = "documents"
VECS = "embeddings"


def _table_fns(thr, terms, sthr):
    return [
        dict(template="p1_minhash", table="documents", param=thr, pin=f"minhash@{thr}",
             sql="SELECT count() AS n, sum(id_a) AS sa, sum(id_b) AS sb FROM "
                 f"minHashDupPairs({DOCS}, 'doc_id', 'text', 3, 128, 32, {thr})"),
        dict(template="p2_bm25", table="documents", pin=f"bm25@{terms}",
             sql="SELECT count() AS n, sum(doc_id) AS ids, sum(bm25) AS s FROM "
                 f"bm25({DOCS}, 'doc_id', 'text', '{terms}')"),
        dict(template="p3_semantic_dedup", table="embeddings", pin=f"semdedup@{sthr}",
             sql="SELECT count() AS n, sum(id_a) AS sa, sum(id_b) AS sb FROM "
                 f"semanticDedup({VECS}, 'vec_id', 'embedding', 16, 64, {sthr})"),
    ]


def _pick_table_fns(rng):
    pick = lambda xs: xs[int(rng.random() * len(xs))]
    return pick(MINHASH_THRESHOLDS), pick(BM25_TERMS), pick(SEMDEDUP_THRESHOLDS)


def pinned_statements():
    """Every statement whose answer is pinned, for `pin.py`: q4 and each
    table-function variant."""
    q4 = [s for s in _scan(random.Random(0), "")[0] if "pin" in s]
    m, b, d = MINHASH_THRESHOLDS[0], BM25_TERMS[0], SEMDEDUP_THRESHOLDS[0]
    return (q4 + [_table_fns(t, b, d)[0] for t in MINHASH_THRESHOLDS]
            + [_table_fns(m, t, d)[1] for t in BM25_TERMS]
            + [_table_fns(m, b, t)[2] for t in SEMDEDUP_THRESHOLDS])


def _render(v):
    if v is None:
        return None
    if isinstance(v, float):
        return repr(v)
    return str(v)


def _duck(fixture_dir, data):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in ["lineitem", "orders", "events"]:
        p = os.path.join(fixture_dir, data, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def load_pins(fixture_key):
    path = os.path.join(HERE, "pins.json")
    if not os.path.exists(path):
        return {}
    pins = json.load(open(path))
    if pins.get("fixture_key") != fixture_key:
        raise RuntimeError(f"pins.json was pinned for fixtures {pins.get('fixture_key')}, "
                           f"these are {fixture_key}: re-pin with perfbench/pin.py")
    return pins["pins"]


def plan(workload, seed, seconds, fixture_dir, fixture_key):
    data, door, mode = WORKLOADS[workload]
    rng = random.Random(seed * 7919 + sorted(WORKLOADS).index(workload))
    prep = []
    if workload == "dash":
        stmts = _dash(rng)
    else:
        stmts, prep = _scan(rng, os.path.join(fixture_dir, "mt"))
        stmts += _table_fns(*_pick_table_fns(rng))
    pins = load_pins(fixture_key) if any("pin" in s for s in stmts) else {}
    con = _duck(fixture_dir, data) if any("duck" in s for s in stmts) else None
    out = []
    for i, s in enumerate(stmts):
        e = {}
        if s.get("client"):
            e = {}
        elif "pin" in s:
            if s["pin"] not in pins:
                raise RuntimeError(f"no pinned answer for {s['pin']}: run perfbench/pin.py")
            e = pins[s["pin"]]
        elif s.get("export"):
            r = con.execute(s["duck"]).fetchone()
            e = {"count": r[0], "sums": [[c, float(v)] for c, v in zip(s["agg_cols"], r[1:])]}
        else:
            e = {"rows": [[_render(v) for v in row] for row in con.execute(s["duck"]).fetchall()]}
        out.append({"id": f"{s['template']}#{i}", "template": s["template"], "sql": s["sql"],
                    "source_rows": s["source_rows"] if "source_rows" in s else ROWS[data][s["table"]],
                    "export": bool(s.get("export")), "expect": e, "tol": TOL,
                    "param": s.get("param", 0)})
    if con is not None:
        con.close()
    idx = list(range(len(out)))
    if mode == "loop":
        # each connection cycles blocks that hold every template once
        # (seeded template order and variant), so any stretch of the loop
        # runs the templates in equal shares
        by_t = {}
        for i, s in enumerate(out):
            by_t.setdefault(s["template"], []).append(i)
        schedules = []
        for _ in range(DASH_CONNECTIONS):
            cycle = []
            for b in range(len(next(iter(by_t.values())))):
                block = [rng.choice(v) for v in by_t.values()]
                rng.shuffle(block)
                cycle += block
            schedules.append(cycle)
    else:
        rng.shuffle(idx)
        # the read of the insert table checks what the pass's insert wrote,
        # so it runs after the insert
        pos = {out[i]["template"]: p for p, i in enumerate(idx)}
        if "ingest_read" in pos and pos["ingest_read"] < pos["ingest_insert"]:
            a, b = pos["ingest_read"], pos["ingest_insert"]
            idx[a], idx[b] = idx[b], idx[a]
        schedules = [idx]
    return {"workload": workload, "door": door, "seconds": seconds, "mode": mode, "seed": seed,
            "data": data, "statements": out, "schedules": schedules, "prep": prep,
            "ingest_batch_rows": INGEST_BATCH_ROWS if workload == "scan" else 0,
            "warmup": WARMUP[mode]}
