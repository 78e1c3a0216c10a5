"""Deterministic, content-keyed benchmark fixtures.

Everything the benchmark reads is generated here, inside the checkout,
from a fixed generator seed: the TPC-H-shaped star schema plus the
`events`, `documents` and `embeddings` tables (the same column names and
parquet physical types as the repo's sf0.1 test data), a 10x copy for
the scan workload, and the q10 MergeTree part tree.

The output directory is keyed by a digest of this file and
`scala/Fixture.scala`, so editing the generator rebuilds, and a
half-built directory (no `_DONE` marker) is discarded.  The build runs
once per checkout, outside every timed section; its wall time is
reported as its own field and never folded into `setup_s`.

Layout under `.bench_build/fixtures/<key>/`:
  base/<table>.parquet   sf0.1-sized tables (lineitem 600k rows)
  x10/<table>.parquet    lineitem/orders x10 (plain copies, 4 files each),
                         every other table copied from base: documents and
                         embeddings stay at 5k/2k rows, so the table
                         functions fit scan's time budget
  mt/                    the q10 MergeTree tree: 8 wide parts of base
                         lineitem's 4 group-by columns, replicated x10
"""

import hashlib
import os
import random
import shutil
import subprocess
import sys
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
GEN_SEED = 20240101
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_DOCS = 5_000
N_VECS = 2_000
DIM = 64
REPLICAS = 10

VOCAB = ("batch part spark line column order small sort fast value scan hash "
         "slow group agg filter query a big key window row table stream merge "
         "data vector join index page shard tree node cache plan task stage "
         "bloom token").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def key():
    h = hashlib.sha256()
    for rel in _key_files():
        h.update(rel.encode())
        with open(os.path.join(HERE, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _key_files():
    return ["fixtures.py", os.path.join("scala", "Fixture.scala")]


def _u(expr_i, salt):
    """Uniform [0,1) from a deterministic hash of a row index."""
    return f"((hash({expr_i} * 7919 + {salt}) % 1000000)::DOUBLE / 1000000.0)"


def _gen_tabular(con, out):
    p = lambda t: os.path.join(out, f"{t}.parquet")
    con.execute(f"""COPY (SELECT i::INTEGER AS r_regionkey,
        ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
        FROM range(5) t(i) ORDER BY i) TO '{p("region")}' (FORMAT parquet)""")
    con.execute(f"""COPY (SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
        (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i) ORDER BY i)
        TO '{p("nation")}' (FORMAT parquet)""")
    con.execute(f"""COPY (SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
        (hash(i) % 25)::INTEGER AS c_nationkey,
        round(-999.99 + {_u('i', 1)} * 10998.0, 2) AS c_acctbal,
        ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'][(hash(i + 3) % 5)::INTEGER + 1] AS c_mktsegment
        FROM range(15000) t(i) ORDER BY i) TO '{p("customer")}' (FORMAT parquet)""")
    con.execute(f"""COPY (SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
        (hash(i + 11) % 25)::INTEGER AS s_nationkey,
        round(-999.99 + {_u('i', 2)} * 10998.0, 2) AS s_acctbal
        FROM range(1000) t(i) ORDER BY i) TO '{p("supplier")}' (FORMAT parquet)""")
    con.execute(f"""COPY (SELECT i AS p_partkey, 'part ' || i AS p_name,
        'Brand#' || (1 + hash(i + 5) % 5) || (1 + hash(i + 7) % 5) AS p_brand,
        ['STANDARD','SMALL','MEDIUM','LARGE','ECONOMY','PROMO'][(hash(i + 9) % 6)::INTEGER + 1] AS p_type,
        (1 + hash(i + 13) % 50)::INTEGER AS p_size,
        round(900 + {_u('i', 3)} * 1100, 2) AS p_retailprice
        FROM range(20000) t(i) ORDER BY i) TO '{p("part")}' (FORMAT parquet)""")
    con.execute(f"""COPY (SELECT i AS o_orderkey, (hash(i + 17) % 15000)::BIGINT AS o_custkey,
        ['F','O','P'][(hash(i + 19) % 3)::INTEGER + 1] AS o_orderstatus,
        round(1000 + {_u('i', 4)} * 499000, 2) AS o_totalprice,
        TIMESTAMP '1995-01-01' + to_days((hash(i + 23) % 2404)::INTEGER) AS o_orderdate,
        ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][(hash(i + 29) % 5)::INTEGER + 1] AS o_orderpriority
        FROM range({N_ORDERS}) t(i) ORDER BY i) TO '{p("orders")}' (FORMAT parquet)""")
    con.execute(f"""COPY (SELECT (i // 4)::BIGINT AS l_orderkey, (hash(i + 31) % 20000)::BIGINT AS l_partkey,
        (hash(i + 37) % 1000)::BIGINT AS l_suppkey, (1 + i % 4)::INTEGER AS l_linenumber,
        (1 + hash(i + 41) % 50)::DOUBLE AS l_quantity,
        round(900 + {_u('i', 5)} * 104100, 2) AS l_extendedprice,
        ((hash(i + 43) % 11)::DOUBLE / 100.0) AS l_discount,
        ((hash(i + 47) % 9)::DOUBLE / 100.0) AS l_tax,
        ['A','N','R'][(hash(i + 53) % 3)::INTEGER + 1] AS l_returnflag,
        ['F','O'][(hash(i + 59) % 2)::INTEGER + 1] AS l_linestatus,
        TIMESTAMP '1995-01-02' + to_days((hash(i + 61) % 2498)::INTEGER) AS l_shipdate
        FROM range({N_LINEITEM}) t(i) ORDER BY i) TO '{p("lineitem")}' (FORMAT parquet)""")
    con.execute(f"""COPY (SELECT i AS event_id,
        TIMESTAMP '2024-01-01' + to_microseconds((hash(i + 67) % 2592000000000)::BIGINT) AS ts,
        (hash(i + 71) % 1500)::BIGINT AS user_id,
        ['click','error','purchase','signup','view'][(hash(i + 73) % 5)::INTEGER + 1] AS event_type,
        round({_u('i', 6)} * 500, 2) AS value,
        '{{"k": ' || (hash(i + 79) % 100) || '}}' AS props
        FROM range({N_EVENTS}) t(i) ORDER BY i) TO '{p("events")}' (FORMAT parquet)""")


def _docs():
    rng = random.Random(GEN_SEED)
    texts = []
    for i in range(N_DOCS):
        if i > 20 and rng.random() < 0.25:
            words = texts[int(rng.random() * len(texts))].split()
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.random() * len(words))] = VOCAB[int(rng.random() * len(VOCAB))]
        else:
            n = 8 + int(rng.random() * 72)
            words = [VOCAB[min(int(rng.random() ** 1.6 * len(VOCAB)), len(VOCAB) - 1)]
                     for _ in range(n)]
        texts.append(" ".join(words))
    langs = [LANGS[int(rng.random() * len(LANGS))] for _ in range(N_DOCS)]
    return texts, langs


def _vecs():
    rng = random.Random(GEN_SEED + 1)
    centers = [[rng.gauss(0, 1) for _ in range(DIM)] for _ in range(10)]
    vecs, labels = [], []
    for i in range(N_VECS):
        if i > 20 and rng.random() < 0.1:
            j = int(rng.random() * len(vecs))
            v = [x + rng.gauss(0, 0.01) for x in vecs[j]]
            labels.append(labels[j])
        else:
            c = int(rng.random() * 10)
            v = [x + rng.gauss(0, 0.6) for x in centers[c]]
            labels.append(c)
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
    return vecs, labels


def _docs_table(texts, langs):
    return pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts,
                     "lang": langs, "source": [f"src{i % 20}" for i in range(len(texts))],
                     "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _vecs_table(vecs, labels):
    return pa.table({"vec_id": pa.array(range(len(vecs)), pa.int64()),
                     "embedding": pa.array(vecs, pa.list_(pa.float32())),
                     "label": pa.array(labels, pa.int32())})


def _gen_x10(con, base, x10):
    os.makedirs(x10)
    for t in ["region", "nation", "customer", "supplier", "part", "events",
              "documents", "embeddings"]:
        shutil.copyfile(os.path.join(base, f"{t}.parquet"), os.path.join(x10, f"{t}.parquet"))
    # one file per core: the 10x scan must be able to use every core
    for t in ["lineitem", "orders"]:
        d = os.path.join(x10, f"{t}.parquet")
        os.makedirs(d)
        src = os.path.join(base, f"{t}.parquet")
        for k in range(4):
            con.execute(f"""COPY (SELECT s.* FROM range({REPLICAS}) r(r), '{src}' s
                WHERE r % 4 = {k} ORDER BY r) TO '{d}/part-{k}.parquet' (FORMAT parquet)""")


def _write_mt(mt, base, classpath, java):
    """The MergeTree tree is written by the engine's own part writer."""
    cmd = java + ["-Xmx2g", "-cp", classpath, "perfbench.Fixture",
                  os.path.join(base, "lineitem.parquet"), mt, str(REPLICAS)]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL,
                   stderr=subprocess.PIPE, timeout=600)


def ensure(build_root, classpath, java):
    """Return (fixture dir, build seconds or None when reused)."""
    k = key()
    root = os.path.join(build_root, "fixtures", k)
    if os.path.exists(os.path.join(root, "_DONE")):
        return root, None
    t0 = time.time()
    if os.path.exists(root):
        shutil.rmtree(root)
    base, x10 = os.path.join(root, "base"), os.path.join(root, "x10")
    os.makedirs(base)
    con = duckdb.connect()
    con.execute("SET threads = 4")
    _gen_tabular(con, base)
    texts, langs = _docs()
    vecs, labels = _vecs()
    pq.write_table(_docs_table(texts, langs), os.path.join(base, "documents.parquet"))
    pq.write_table(_vecs_table(vecs, labels), os.path.join(base, "embeddings.parquet"))
    _gen_x10(con, base, x10)
    con.close()
    _write_mt(os.path.join(root, "mt"), base, classpath, java)
    open(os.path.join(root, "_DONE"), "w").close()
    return root, time.time() - t0


if __name__ == "__main__":
    import build
    cp, java = build.ensure()
    d, secs = ensure(build.BUILD_ROOT, cp, java)
    print(d, secs, file=sys.stderr)
