"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical SQLite files and parquet tables and returns the same
scripts and expected answers. Generation is never timed.
"""

from __future__ import annotations

import json
import os
import sqlite3
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- lake

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "MEDIUM", "SMALL", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "error"]
WORDS = (
    "the and of to is a spark merge dup batch window column table key "
    "row scan join query value part order line customer data stream "
    "filter group sort hash fast slow big small agg vector index plan"
).split()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n_docs: int) -> list[str]:
    """Word-salad documents with planted near-duplicates (a copy of an
    earlier document with a few tokens replaced) so the dedup entries
    find pairs, and a sprinkle of punctuation for the quality scores."""
    docs: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.15:
            toks = docs[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 12)):
                toks[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            toks = [WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
            for j in rng.integers(0, len(toks), int(rng.integers(0, 4))):
                toks[j] = toks[j] + rng.choice([".", ",", "!"])
        docs.append(" ".join(toks))
    return docs


def make_lake(out_dir: str, seed: int, scale: float) -> dict:
    """A TPC-H-shaped star schema plus events, documents and
    embeddings, with the vocabulary the catalog's predicates select on
    (real region names, NATION_i, BUILDING segment, F/O/P status).
    ``scale`` 1.0 would be 6M lineitems; returns the small dimension
    tables the server workload computes its expected answers from."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(50, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(200, int(1_500_000 * scale))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation_region = [i % 5 for i in range(25)]
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(nation_region, pa.int32()),
    })
    c_nation = rng.integers(0, 25, n_cust)
    _write(out_dir, "customer", {
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": c_nation.astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, n_cust)],
    })
    # every nation has a supplier, so per-nation lookups never drop rows
    s_nation = np.concatenate([np.arange(25), rng.integers(0, 25, n_supp - 25)])
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": s_nation.astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(1, n_part + 1, dtype=np.int64),
        "p_name": [f"{WORDS[a]} {WORDS[b]}" for a, b in rng.integers(0, len(WORDS), (n_part, 2))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(11, 56, n_part)],
        "p_type": [P_TYPES[k] for k in rng.integers(0, len(P_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": _money(rng, 900, 2100, n_part),
    })

    epoch = datetime(1992, 1, 1)
    o_days = rng.integers(0, 2405, n_ord)  # 1992-01-01 .. 1998-08-02
    o_date = [epoch + timedelta(days=int(d)) for d in o_days]
    n_lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(1, n_ord + 1, dtype=np.int64), n_lines)
    n_li = len(l_order)
    l_ship_days = np.repeat(o_days, n_lines) + rng.integers(1, 122, n_li)
    l_ship = [epoch + timedelta(days=int(d)) for d in l_ship_days]
    # status F when every line shipped before the cut, O when none
    cut = 2200
    first = np.cumsum(n_lines) - n_lines
    status = np.where(
        np.maximum.reduceat(l_ship_days, first) <= cut, "F",
        np.where(np.minimum.reduceat(l_ship_days, first) > cut, "O", "P"),
    )
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(1, n_ord + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, n_cust + 1, n_ord).astype(np.int64),
        "o_orderstatus": status.tolist(),
        "o_totalprice": _money(rng, 800, 400_000, n_ord),
        "o_orderdate": pa.array(o_date, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(1, n_part + 1, n_li).astype(np.int64),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li).astype(np.int64),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in n_lines]).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.where(l_ship_days <= cut, rng.choice(["A", "R"], n_li), "N").tolist(),
        "l_linestatus": np.where(l_ship_days <= cut, "F", "O").tolist(),
        "l_shipdate": pa.array(l_ship, pa.timestamp("us")),
    })

    n_ev = max(500, int(1_000_000 * scale))
    ev_gap_us = rng.integers(1_000_000, 600_000_000, n_ev)
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(ev_gap_us).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(10, n_ev // 100), n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 4, n_ev)],
        "value": _money(rng, 0, 100, n_ev),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })

    n_docs = max(100, int(50_000 * scale))
    docs = _documents(rng, n_docs)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": docs,
        "lang": ["en"] * n_docs,
        "source": [f"src{i % 7}" for i in range(n_docs)],
        "n_chars": np.array([len(d) for d in docs], dtype=np.int64),
    })
    n_vec = max(50, int(50_000 * scale))
    emb = rng.standard_normal((n_vec, 8)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 4, n_vec).astype(np.int32),
    })
    return {
        "nation_region": nation_region,
        "supplier_nation": s_nation.tolist(),
    }


# ----------------------------------------------------------------- etl

ETL_DST_DDL = """
CREATE TABLE sales_enriched (
    sale_id INTEGER, cust_id INTEGER, region TEXT, qty INTEGER,
    amount_cents INTEGER
);
CREATE TABLE region_totals (
    region TEXT, n INTEGER, qty INTEGER, amount_cents INTEGER
);
"""


def make_etl(out_dir: str, seed: int, n_fact: int, n_dim: int, n_batches: int) -> dict:
    """Source file: a ``sales`` fact table with Zipf-skewed customer
    keys (about 2 % orphans that the INNER lookup drops) split into
    ``n_batches`` load batches, and a ``customers`` dimension.
    Destination file: the two empty target tables. Returns the paths
    and SQLite's own answer per batch, computed here over the same
    file the jobs read."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    src = os.path.join(out_dir, "src.db")
    dst = os.path.join(out_dir, "dst.db")
    for p in (src, dst):
        if os.path.exists(p):
            os.remove(p)
    ranks = np.arange(1, n_dim + 1)
    p = 1.0 / ranks ** 1.1
    key_of_rank = rng.permutation(n_dim) + 1
    cust = key_of_rank[rng.choice(n_dim, n_fact, p=p / p.sum())]
    orphan = rng.random(n_fact) < 0.02
    cust = np.where(orphan, n_dim + 1 + rng.integers(0, 1000, n_fact), cust)
    con = sqlite3.connect(src)
    with con:
        con.execute(
            "CREATE TABLE customers (cust_id INTEGER PRIMARY KEY,"
            " name TEXT, region TEXT, tier INTEGER)"
        )
        con.executemany(
            "INSERT INTO customers VALUES (?, ?, ?, ?)",
            (
                (i, f"cust{i}", REGIONS[int(r)], int(t))
                for i, r, t in zip(
                    range(1, n_dim + 1),
                    rng.integers(0, 5, n_dim),
                    rng.integers(1, 4, n_dim),
                )
            ),
        )
        con.execute(
            "CREATE TABLE sales (sale_id INTEGER PRIMARY KEY, batch INTEGER,"
            " cust_id INTEGER, qty INTEGER, amount_cents INTEGER)"
        )
        con.executemany(
            "INSERT INTO sales VALUES (?, ?, ?, ?, ?)",
            (
                (i, int(b), int(c), int(q), int(a))
                for i, b, c, q, a in zip(
                    range(1, n_fact + 1),
                    rng.integers(0, n_batches, n_fact),
                    cust,
                    rng.integers(1, 20, n_fact),
                    rng.integers(100, 100_000, n_fact),
                )
            ),
        )
        con.execute("CREATE INDEX ix_sales_batch ON sales (batch)")
    expected: dict[int, dict] = {b: {"rows": 0, "fetched": 0, "groups": []} for b in range(n_batches)}
    for b, n in con.execute("SELECT batch, count(*) FROM sales GROUP BY batch"):
        expected[b]["fetched"] = n
    for b, region, n, qty, amount in con.execute(
        "SELECT s.batch, c.region, count(*), sum(s.qty), sum(s.amount_cents)"
        " FROM sales s JOIN customers c ON s.cust_id = c.cust_id"
        " GROUP BY s.batch, c.region ORDER BY s.batch, c.region"
    ):
        expected[b]["rows"] += n
        expected[b]["groups"].append([region, n, qty, amount])
    con.close()
    con = sqlite3.connect(dst)
    con.executescript(ETL_DST_DDL)
    con.close()
    return {"src": src, "dst": dst, "expected": expected}


def etl_script(src: str, dst: str, batch: int) -> str:
    """One load job: reset the targets, pull one batch of facts and the
    whole dimension from the source database, look the region up, and
    write the enriched rows plus a per-region rollup to the target."""
    return f"""
CONNECTION 'Src' (Driver = 'sqlite3', ConnectionString = '{src}')
CONNECTION 'Dst' (Driver = 'sqlite3', ConnectionString = '{dst}')

EXEC 'Reset' FROM CONNECTION Dst (
    DELETE FROM sales_enriched;
    DELETE FROM region_totals;
)

QUERY 'Sales' FROM CONNECTION Src (
    SELECT sale_id, cust_id, qty, amount_cents FROM sales WHERE batch = {batch}
)

QUERY 'Customers' FROM CONNECTION Src (
    SELECT cust_id AS c_id, region FROM customers
)

TRANSFORM 'Enriched' FROM BLOCK Sales, BLOCK Customers (
    LOOKUP Sales.sale_id, Sales.cust_id, region, qty, amount_cents
    FROM Sales INNER JOIN Customers ON Sales.cust_id = Customers.c_id
) INTO CONNECTION Dst WITH (TABLE = 'sales_enriched', ROWS_PER_BATCH = 1000)
AFTER Reset

TRANSFORM 'Totals' FROM BLOCK Enriched (
    AGGREGATE region, COUNT(1) AS n, SUM(qty) AS qty,
        SUM(amount_cents) AS amount_cents
    GROUP BY region
) INTO CONNECTION Dst WITH (TABLE = 'region_totals')
AFTER Reset
"""


# -------------------------------------------------------------- server

def _run_script(kind: int, rows: list[list[int]]) -> str:
    data = json.dumps(rows)
    if kind == 0:  # DATA -> LOOKUP region -> AGGREGATE per region
        return f"""
DATA 'Orders' ( {data} ) WITH (FORMAT = 'JSON_ARRAY', COLUMNS = 'nkey,qty');
QUERY 'Nations' FROM GLOBAL (
    SELECT n_nationkey, r_name FROM nation JOIN region ON n_regionkey = r_regionkey
);
TRANSFORM 'Joined' FROM BLOCK Orders, BLOCK Nations (
    LOOKUP Orders.nkey, r_name, qty
    FROM Orders INNER JOIN Nations ON Orders.nkey = Nations.n_nationkey
);
TRANSFORM 'ByRegion' FROM BLOCK Joined (
    AGGREGATE r_name, COUNT(1) AS n, SUM(qty) AS qty GROUP BY r_name
) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')
"""
    if kind == 1:  # supplier counts per nation looked up per row
        return f"""
DATA 'Orders' ( {data} ) WITH (FORMAT = 'JSON_ARRAY', COLUMNS = 'nkey,qty');
QUERY 'Supply' FROM GLOBAL (
    SELECT s_nationkey, count(*) AS n_sup FROM supplier GROUP BY s_nationkey
);
TRANSFORM 'Joined' FROM BLOCK Orders, BLOCK Supply (
    LOOKUP Orders.nkey, n_sup, qty
    FROM Orders INNER JOIN Supply ON Orders.nkey = Supply.s_nationkey
) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')
"""
    # kind 2: plain aggregate over the literal
    return f"""
DATA 'Orders' ( {data} ) WITH (FORMAT = 'JSON_ARRAY', COLUMNS = 'nkey,qty');
TRANSFORM 'Total' FROM BLOCK Orders (
    AGGREGATE COUNT(1) AS n, SUM(qty) AS qty, MAX(nkey) AS top
) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')
"""


def _run_expected(kind: int, rows: list[list[int]], dims: dict) -> list:
    """The console rows each /run script must print, computed in plain
    Python from the generated tables."""
    if kind == 0:
        agg: dict[str, list[int]] = {}
        for nkey, qty in rows:
            g = agg.setdefault(REGIONS[dims["nation_region"][nkey]], [0, 0])
            g[0] += 1
            g[1] += qty
        return [{"r_name": r, "n": n, "qty": q} for r, (n, q) in agg.items()]
    if kind == 1:
        n_sup: dict[int, int] = {}
        for s in dims["supplier_nation"]:
            n_sup[s] = n_sup.get(s, 0) + 1
        return [
            {"nkey": nkey, "n_sup": n_sup[nkey], "qty": qty}
            for nkey, qty in rows if nkey in n_sup
        ]
    return [{"n": len(rows), "qty": sum(q for _, q in rows), "top": max(k for k, _ in rows)}]


def _compile_script(rng: np.random.Generator) -> tuple[str, int]:
    """A 10-30 block script: a DATA root and a chain of transforms over
    it, ending in the console. Compiled, never run."""
    n_blocks = int(rng.integers(10, 31))
    parts = ["DATA 'B0' ( [[1, 2], [3, 4]] ) WITH (FORMAT = 'JSON_ARRAY', COLUMNS = 'a,b');"]
    for i in range(1, n_blocks):
        tail = " INTO CONSOLE" if i == n_blocks - 1 else ""
        parts.append(
            f"TRANSFORM 'B{i}' FROM BLOCK B{i - 1} ( AGGREGATE a, SUM(b) AS b GROUP BY a ){tail};"
        )
    return "\n".join(parts), n_blocks


def server_requests(seed: int, n: int, dims: dict) -> list[dict]:
    """The request mix: every fifth request is a ``POST /compile``, the
    rest are ``POST /run`` cycling through the three small scripts
    (a 50-row DATA literal, QUERY FROM GLOBAL, LOOKUP and AGGREGATE into
    the console). The cycle keeps any window of requests at the same
    80/20 mix; the seed sets the literal rows and compile scripts."""
    rng = np.random.default_rng(seed + 7919)
    out = []
    for i in range(n):
        if i % 5 == 4:
            script, n_blocks = _compile_script(rng)
            out.append({"path": "/compile", "script": script, "blocks": n_blocks})
            continue
        kind = (i - i // 5) % 3
        rows = [[int(k), int(q)] for k, q in zip(
            rng.integers(0, 25, 50), rng.integers(1, 100, 50)
        )]
        out.append({
            "path": "/run",
            "script": _run_script(kind, rows),
            "expected": _run_expected(kind, rows, dims),
        })
    return out
