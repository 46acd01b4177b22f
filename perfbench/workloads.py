"""Seeded inputs, operation mixes and the DuckDB oracle for the three workloads.

Everything a run needs is derived from ``--seed``: the TPC-H-shaped tables
(numpy generator, written out by DuckDB), the constants in the SQL, and
DuckDB's expected answer for every operation in every mix. Fixtures are
cached per seed and workload under ``.bench_build/fixtures``; remake them
with ``python3 perfbench/workloads.py --seed N --workload W --force``.
"""

import argparse
import datetime
import hashlib
import json
import os
import shutil
import sys

import duckdb
import numpy as np
import pyarrow as pa

# Table sizes: orders rows per workload; lineitem has ~4 lines per order.
# They are small enough that one round of a workload's mix takes a few
# seconds on four cores, so that a run's window holds several rounds per
# client and the JIT compiler settles within the warm-up.
ORDERS_ROWS = {"csv_exec": 15_000, "pg_serve": 20_000, "federate": 50_000}
CSV_FILES = {"lineitem": 8, "orders": 4}
KEEP_SEEDS = 4  # fixture sets kept on disk per workload

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH = datetime.date(1970, 1, 1)

# psql 15's literal catalog queries (captured with `psql -E`): `\dt`, then
# `\d orders` = the oid lookup followed by the queries that use the oid
PSQL_DT = """SELECT n.nspname as "Schema",
  c.relname as "Name",
  CASE c.relkind WHEN 'r' THEN 'table' WHEN 'v' THEN 'view' WHEN 'm' THEN 'materialized view' WHEN 'i' THEN 'index' WHEN 'S' THEN 'sequence' WHEN 't' THEN 'TOAST table' WHEN 'f' THEN 'foreign table' WHEN 'p' THEN 'partitioned table' WHEN 'I' THEN 'partitioned index' END as "Type",
  pg_catalog.pg_get_userbyid(c.relowner) as "Owner"
FROM pg_catalog.pg_class c
     LEFT JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace
     LEFT JOIN pg_catalog.pg_am am ON am.oid = c.relam
WHERE c.relkind IN ('r','p','')
      AND n.nspname <> 'pg_catalog'
      AND n.nspname !~ '^pg_toast'
      AND n.nspname <> 'information_schema'
  AND pg_catalog.pg_table_is_visible(c.oid)
ORDER BY 1,2;"""

PSQL_D_LOOKUP = """SELECT c.oid,
  n.nspname,
  c.relname
FROM pg_catalog.pg_class c
     LEFT JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace
WHERE c.relname OPERATOR(pg_catalog.~) '^({table})$' COLLATE pg_catalog.default
  AND pg_catalog.pg_table_is_visible(c.oid)
ORDER BY 2, 3;"""

PSQL_D_FOLLOWUPS = [
    """SELECT c.relchecks, c.relkind, c.relhasindex, c.relhasrules, c.relhastriggers, c.relrowsecurity, c.relforcerowsecurity, false AS relhasoids, c.relispartition, '', c.reltablespace, CASE WHEN c.reloftype = 0 THEN '' ELSE c.reloftype::pg_catalog.regtype::pg_catalog.text END, c.relpersistence, c.relreplident, am.amname
FROM pg_catalog.pg_class c
 LEFT JOIN pg_catalog.pg_class tc ON (c.reltoastrelid = tc.oid)
LEFT JOIN pg_catalog.pg_am am ON (c.relam = am.oid)
WHERE c.oid = '{oid}';""",
    """SELECT a.attname,
  pg_catalog.format_type(a.atttypid, a.atttypmod),
  (SELECT pg_catalog.pg_get_expr(d.adbin, d.adrelid, true)
   FROM pg_catalog.pg_attrdef d
   WHERE d.adrelid = a.attrelid AND d.adnum = a.attnum AND a.atthasdef),
  a.attnotnull,
  (SELECT c.collname FROM pg_catalog.pg_collation c, pg_catalog.pg_type t
   WHERE c.oid = a.attcollation AND t.oid = a.atttypid AND a.attcollation <> t.typcollation) AS attcollation,
  a.attidentity,
  a.attgenerated
FROM pg_catalog.pg_attribute a
WHERE a.attrelid = '{oid}' AND a.attnum > 0 AND NOT a.attisdropped
ORDER BY a.attnum;""",
    """SELECT pol.polname, pol.polpermissive,
  CASE WHEN pol.polroles = '{0}' THEN NULL ELSE pg_catalog.array_to_string(array(select rolname from pg_catalog.pg_roles where oid = any (pol.polroles) order by 1),',') END,
  pg_catalog.pg_get_expr(pol.polqual, pol.polrelid),
  pg_catalog.pg_get_expr(pol.polwithcheck, pol.polrelid),
  CASE pol.polcmd
    WHEN 'r' THEN 'SELECT'
    WHEN 'a' THEN 'INSERT'
    WHEN 'w' THEN 'UPDATE'
    WHEN 'd' THEN 'DELETE'
    END AS cmd
FROM pg_catalog.pg_policy pol
WHERE pol.polrelid = '{oid}' ORDER BY 1;""",
    """SELECT oid, stxrelid::pg_catalog.regclass, stxnamespace::pg_catalog.regnamespace::pg_catalog.text AS nsp, stxname,
pg_catalog.pg_get_statisticsobjdef_columns(oid) AS columns,
  'd' = any(stxkind) AS ndist_enabled,
  'f' = any(stxkind) AS deps_enabled,
  'm' = any(stxkind) AS mcv_enabled,
stxstattarget
FROM pg_catalog.pg_statistic_ext
WHERE stxrelid = '{oid}'
ORDER BY nsp, stxname;""",
    """SELECT c.oid::pg_catalog.regclass
FROM pg_catalog.pg_class c, pg_catalog.pg_inherits i
WHERE c.oid = i.inhparent AND i.inhrelid = '{oid}'
  AND c.relkind != 'p' AND c.relkind != 'I'
ORDER BY inhseqno;""",
    """SELECT c.oid::pg_catalog.regclass, c.relkind, inhdetachpending, pg_catalog.pg_get_expr(c.relpartbound, c.oid)
FROM pg_catalog.pg_class c, pg_catalog.pg_inherits i
WHERE c.oid = i.inhrelid AND i.inhparent = '{oid}'
ORDER BY pg_catalog.pg_get_expr(c.relpartbound, c.oid) = 'DEFAULT', c.oid::pg_catalog.regclass::pg_catalog.text;""",
]

ORDERS_COLUMNS = [("o_orderkey", "BIGINT", "bigint", "int"),
                  ("o_custkey", "BIGINT", "bigint", "int"),
                  ("o_orderstatus", "VARCHAR", "text", "text"),
                  ("o_totalprice", "DOUBLE", "double precision", "float"),
                  ("o_orderdate", "DATE", "date", "date"),
                  ("o_orderpriority", "VARCHAR", "text", "text")]


def fixture_version():
    """Fixtures are remade whenever this file changes."""
    with open(os.path.abspath(__file__), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


# ---- data ---------------------------------------------------------------

def make_tables(seed, n_orders):
    """TPC-H-shaped orders and lineitem as Arrow tables, from the seed."""
    rng = np.random.default_rng(seed)
    n = n_orders
    okey = np.arange(1, n + 1, dtype=np.int64)
    odate = rng.integers(0, 2405, n) + (datetime.date(1992, 1, 1) - EPOCH).days
    orders = pa.table({
        "o_orderkey": okey,
        "o_custkey": rng.integers(1, n // 10 + 1, n, dtype=np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n, p=[0.49, 0.49, 0.02]),
        "o_totalprice": np.round(rng.uniform(850.0, 560000.0, n), 2),
        "o_orderdate": pa.array(odate.astype(np.int32), pa.date32()),
        "o_orderpriority": rng.choice(np.array(PRIORITIES), n),
    })
    lines = rng.integers(1, 8, n)
    idx = np.repeat(np.arange(n), lines)
    m = len(idx)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, m).astype(np.float64)
    ship = odate[idx] + rng.integers(1, 122, m)
    cutoff = (datetime.date(1995, 6, 17) - EPOCH).days
    shipped = ship <= cutoff
    lineitem = pa.table({
        "l_orderkey": okey[idx],
        "l_partkey": rng.integers(1, max(n // 7, 2), m, dtype=np.int64),
        "l_suppkey": rng.integers(1, max(n // 150, 2), m, dtype=np.int64),
        "l_linenumber": (np.arange(m) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": np.where(shipped, rng.choice(np.array(["R", "A"]), m), "N"),
        "l_linestatus": np.where(shipped, "F", "O"),
        "l_shipdate": pa.array(ship.astype(np.int32), pa.date32()),
    })
    return orders, lineitem


# ---- operation mixes ----------------------------------------------------

def csv_round():
    return [
        {"id": "scan_agg", "kind": "exec", "tables": ["lineitem"],
         "sql": "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, "
                "sum(l_extendedprice) AS price FROM lineitem "
                "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"},
        {"id": "filter_agg", "kind": "exec", "tables": ["lineitem"],
         "sql": "SELECT count(*) AS n, sum(l_extendedprice * l_discount) AS revenue FROM lineitem "
                "WHERE l_shipdate >= DATE '1994-01-01' AND l_shipdate < DATE '1995-01-01' "
                "AND l_discount > 0.045 AND l_discount < 0.075 AND l_quantity < 24"},
        {"id": "join_agg", "kind": "exec", "tables": ["orders", "lineitem"],
         "sql": "SELECT o_orderpriority, count(*) AS n, sum(l_extendedprice) AS price "
                "FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
                "WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01' "
                "GROUP BY o_orderpriority ORDER BY o_orderpriority"},
        {"id": "top_n", "kind": "exec", "tables": ["orders"],
         "sql": "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
                "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"},
    ]


def serve_round(seed, n_orders):
    rng = np.random.default_rng(seed + 1)
    k1, k2 = (int(k) for k in rng.integers(1, n_orders + 1, 2))
    point = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate "
             "FROM orders WHERE o_orderkey = {}")
    short = [
        {"id": "point_1", "tables": ["orders"], "sql": point.format(k1)},
        {"id": "agg_orders", "tables": ["orders"],
         "sql": "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total FROM orders "
                "GROUP BY o_orderstatus ORDER BY o_orderstatus"},
        {"id": "top_n", "tables": ["orders"],
         "sql": "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
                "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"},
        {"id": "point_2", "tables": ["orders"], "sql": point.format(k2)},
        {"id": "agg_lineitem", "tables": ["lineitem"],
         "sql": "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, "
                "avg(l_discount) AS disc FROM lineitem WHERE l_shipdate <= DATE '1998-09-02' "
                "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"},
    ]
    for s in short:
        s["kind"] = "short"
        s["replay_sql"] = s["sql"]
    dt = {"id": "psql_dt", "kind": "catalog_dt", "sql": PSQL_DT}
    d = {"id": "psql_d", "kind": "catalog_d", "sql": PSQL_D_LOOKUP.format(table="orders")}
    wide = "SELECT * FROM orders"
    rows = {"id": "wide_rows", "kind": "wide_rows", "sql": wide, "replay_sql": wide}
    copy = {"id": "wide_copy", "kind": "wide_copy", "sql": wide, "replay_sql": wide}
    s = {x["id"]: x for x in short}
    return [s["point_1"], s["agg_orders"], dt, s["top_n"], rows,
            s["point_2"], d, s["agg_lineitem"], copy]


def federate_round(seed, n_orders):
    rng = np.random.default_rng(seed + 2)
    n_cust = n_orders // 10
    width = max(n_cust // 100, 1)
    los = [int(x) for x in rng.integers(1, n_cust - width, 3)]
    query = ("SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS total FROM orders "
             "WHERE o_custkey BETWEEN {} AND {} GROUP BY o_orderpriority ORDER BY o_orderpriority")
    q = [{"id": f"cli_query_{i + 1}", "kind": "fed_query", "sql": query.format(lo, lo + width - 1),
          "where": f"o_custkey BETWEEN {lo} AND {lo + width - 1}"} for i, lo in enumerate(los)]
    where = "o_totalprice > 50000"
    return [q[0], {"id": "gather_rows", "kind": "gather_rows", "where": where},
            q[1], {"id": "gather_copy", "kind": "gather_copy", "where": where},
            q[2], {"id": "publish", "kind": "publish"}]


# ---- oracle -------------------------------------------------------------

def plain(v):
    """DuckDB value -> JSON value (dates and decimals as text/float)."""
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    return float(v)


def rows(con, sql):
    return [[plain(v) for v in r] for r in con.execute(sql).fetchall()]


def wide_summary(con, table):
    """Row count, then per column (sum, nulls) — the harness's summarize()."""
    cols = []
    for name, _, _, tag in ORDERS_COLUMNS:
        if tag in ("int", "float"):
            s = f"sum({name})"
        elif tag == "date":
            s = f"sum({name} - DATE '1970-01-01')"
        else:
            s = f"sum(length({name}))"
        cols.append(f"{s}, count(*) - count({name})")
    r = con.execute(f"SELECT count(*), {', '.join(cols)} FROM {table}").fetchone()
    out = [[plain(r[0])]]
    for i in range(len(ORDERS_COLUMNS)):
        out.append([plain(r[1 + 2 * i]), plain(r[2 + 2 * i])])
    return out


def oracle(con, workload, round_ops, registered):
    """DuckDB's expected result for every operation id in the round."""
    exp = {}
    for op in round_ops:
        k = op["kind"]
        if k in ("exec", "short", "fed_query"):
            exp[op["id"]] = rows(con, op["sql"])
        elif k == "catalog_dt":
            exp[op["id"]] = [["public", t, "table", "graft"] for t in sorted(registered)]
        elif k == "catalog_d":
            exp[op["id"]] = [["public", "orders"]] + [[c[0], c[2]] for c in ORDERS_COLUMNS]
        elif k in ("wide_rows", "wide_copy"):
            exp[op["id"]] = wide_summary(con, "orders")
        elif k in ("gather_rows", "gather_copy"):
            exp[op["id"]] = rows(con, "SELECT count(*), sum(o_totalprice), sum(o_custkey), "
                                      f"sum(o_orderkey) FROM orders WHERE {op['where']}")
        elif k == "publish":
            exp[op["id"]] = rows(con, "SELECT count(*), count(DISTINCT o_orderkey), "
                                      "sum(o_orderkey), sum(o_orderkey::HUGEINT * o_orderkey), "
                                      "sum(o_totalprice) FROM orders")[0]
        if k == "fed_query":
            op["matched_rows"] = con.execute(
                f"SELECT count(*) FROM orders WHERE {op['where']}").fetchone()[0]
        if k == "exec":
            op["input_rows"] = sum(con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                                   for t in op["tables"])
    return exp


# ---- fixture sets -------------------------------------------------------

def build(workload, seed, out):
    """Write the inputs and the oracle for one workload and seed into `out`."""
    n = ORDERS_ROWS[workload]
    orders, lineitem = make_tables(seed, n)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.register("orders_arrow", orders)
    con.register("lineitem_arrow", lineitem)
    spec = {"workload": workload, "seed": seed}
    if workload == "csv_exec":
        spec["csv"] = []
        for t, files in CSV_FILES.items():
            d = os.path.join(out, "csv", t)
            os.makedirs(d)
            key = "l_orderkey" if t == "lineitem" else "o_orderkey"
            for i in range(files):
                con.execute(f"COPY (SELECT * FROM {t}_arrow WHERE {key} % {files} = {i} "
                            f"ORDER BY {key}) TO '{d}/part-{i}.csv' (HEADER, DELIMITER ',')")
            spec["csv"].append([t, d])
            # the oracle reads the same CSV files the program reads (once)
            con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_csv('{d}/*.csv', header = true)")
        spec["round"] = csv_round()
    else:
        pq = os.path.join(out, "parquet")
        os.makedirs(pq)
        tables = ["orders", "lineitem"] if workload == "pg_serve" else ["orders"]
        spec["parquet"] = []
        for t in tables:
            p = os.path.join(pq, f"{t}.parquet")
            con.execute(f"COPY (SELECT * FROM {t}_arrow) TO '{p}' (FORMAT parquet)")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            spec["parquet"].append([t, p])
        if workload == "pg_serve":
            spec["round"] = serve_round(seed, n)
            spec["wide_types"] = [c[3] for c in ORDERS_COLUMNS]
            spec["describe_followups"] = PSQL_D_FOLLOWUPS
        else:
            spec["round"] = federate_round(seed, n)
            spec["gather_columns"] = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]
            spec["shard_loads"] = []
            for i in range(2):
                p = os.path.join(out, f"shard_{i}.csv")
                con.execute(f"COPY (SELECT * FROM orders WHERE o_orderkey % 2 = {i} "
                            f"ORDER BY o_orderkey) TO '{p}' (HEADER, DELIMITER ',')")
                spec["shard_loads"].append(p)
            spec["shard_ddl"] = ", ".join(f"{c[0]} {c[2]}" for c in ORDERS_COLUMNS)
    registered = [t for t, _ in spec.get("parquet", [])]
    spec["expected"] = oracle(con, workload, spec["round"], registered)
    con.close()
    with open(os.path.join(out, "spec.json"), "w") as f:
        json.dump(spec, f)
    return spec


def load(root, workload, seed, force=False):
    """The cached fixture set for (workload, seed), made if missing."""
    base = os.path.join(root, ".bench_build", "fixtures", workload)
    d = os.path.join(base, f"seed{seed}-{fixture_version()}")
    spec_path = os.path.join(d, "spec.json")
    if force and os.path.isdir(d):
        shutil.rmtree(d)
    if not os.path.exists(spec_path):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(workload, seed, tmp)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        # paths inside spec.json name the tmp dir; rewrite them
        with open(spec_path) as f:
            text = f.read().replace(tmp, d)
        with open(spec_path, "w") as f:
            f.write(text)
        prune(base, keep=d)
    os.utime(d)
    with open(spec_path) as f:
        return json.load(f)


def prune(base, keep):
    """Keep only the most recently used fixture sets."""
    sets = sorted((os.path.join(base, x) for x in os.listdir(base)),
                  key=os.path.getmtime, reverse=True)
    for old in [s for s in sets if s != keep][KEEP_SEEDS - 1:]:
        shutil.rmtree(old, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description="Make (or remake) a cached fixture set.")
    ap.add_argument("--workload", choices=sorted(ORDERS_ROWS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--force", action="store_true", help="remake even if cached")
    a = ap.parse_args()
    spec = load(os.getcwd(), a.workload, a.seed, a.force)
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "operations": [op["id"] for op in spec["round"]]}))


if __name__ == "__main__":
    sys.exit(main())
