"""Seeded TPC-H-shaped data and operation streams.

Everything here is pure: the same seed gives byte-identical tables and
op streams, another seed gives different ones. Money is BIGINT cents and
discount and tax are BIGINT percent, so every sum is exact in both Spark
and DuckDB and results compare by hash. (DECIMAL columns are not used:
Engine.write_table cannot take footer statistics of a Spark-written
DECIMAL column with this pyarrow.)
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import json
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from layerbench.metrics import READ_SHAPES

EPOCH = dt.date(1970, 1, 1)
START = dt.date(1992, 1, 1)
END = dt.date(1998, 8, 2)
CUTOFF = dt.date(1995, 6, 17)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
           ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
           ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
           ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
           ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
           ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
           ("UNITED KINGDOM", 3), ("UNITED STATES", 1)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]

# sf0.005-sized: big enough for real Spark jobs, small enough that the
# per-statement cost, not data volume, dominates (as in the repo's bench)
N_CUSTOMERS = 750
N_ORDERS = 7500
N_PARTS = 2000
N_SUPPLIERS = 100


def _days(d: dt.date) -> int:
    return (d - EPOCH).days


def _date(days: int) -> dt.date:
    return EPOCH + dt.timedelta(days=int(days))


def _ints(values: np.ndarray) -> pa.Array:
    return pa.array(values, pa.int64())


def _dates(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int32), pa.int32()).view(pa.date32())


def tpch_tables(seed: int) -> dict[str, pa.Table]:
    """region, nation, customer, supplier, orders, lineitem."""
    rng = np.random.default_rng(seed)
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int64()),
        "r_name": REGIONS})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int64()),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int64())})
    ck = np.arange(1, N_CUSTOMERS + 1)
    customer = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, len(ck)), pa.int64()),
        "c_acctbal": _ints(rng.integers(-99999, 999999, len(ck))),
        "c_mktsegment": pa.array(
            np.array(SEGMENTS)[rng.integers(0, 5, len(ck))])})
    sk = np.arange(1, N_SUPPLIERS + 1)
    supplier = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, len(sk)), pa.int64())})

    ok = np.arange(1, N_ORDERS + 1)
    odate = rng.integers(_days(START), _days(END) - 151, len(ok))
    n_lines = rng.integers(1, 8, len(ok))
    l_ok = np.repeat(ok, n_lines)
    l_odate = np.repeat(odate, n_lines)
    l_num = np.concatenate([np.arange(1, n + 1) for n in n_lines])
    n = len(l_ok)
    qty = rng.integers(1, 51, n)
    unit = rng.integers(90000, 200000, n)              # part retail, cents
    price = qty * unit // 100                          # extended, cents
    disc = rng.integers(0, 11, n)                      # percent
    tax = rng.integers(0, 9, n)                        # percent
    ship = l_odate + rng.integers(1, 122, n)
    commit = l_odate + rng.integers(30, 91, n)
    receipt = ship + rng.integers(1, 31, n)
    cutoff = _days(CUTOFF)
    rflag = np.where(receipt <= cutoff,
                     np.array(["R", "A"])[rng.integers(0, 2, n)], "N")
    lstatus = np.where(ship > cutoff, "O", "F")
    lineitem = pa.table({
        "l_orderkey": pa.array(l_ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, N_PARTS + 1, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, N_SUPPLIERS + 1, n),
                              pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int64()),
        "l_quantity": _ints(qty),
        "l_extendedprice": _ints(price),
        "l_discount": _ints(disc),
        "l_tax": _ints(tax),
        "l_returnflag": pa.array(rflag),
        "l_linestatus": pa.array(lstatus),
        "l_shipdate": _dates(ship),
        "l_commitdate": _dates(commit),
        "l_receiptdate": _dates(receipt),
        "l_shipmode": pa.array(np.array(SHIPMODES)[rng.integers(0, 7, n)])})
    # order total = sum of its lines' discounted, taxed prices (cents)
    line_total = price * (100 - disc) * (100 + tax) // 10000
    totals = np.bincount(l_ok, weights=line_total)[1:].astype(np.int64)
    open_lines = np.bincount(l_ok, weights=(lstatus == "O"))[1:]
    status = np.where(open_lines == n_lines, "O",
                      np.where(open_lines == 0, "F", "P"))
    orders = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, N_CUSTOMERS + 1, len(ok)),
                              pa.int64()),
        "o_orderstatus": pa.array(status),
        "o_totalprice": _ints(totals),
        "o_orderdate": _dates(odate),
        "o_orderpriority": pa.array(
            np.array(PRIORITIES)[rng.integers(0, 5, len(ok))]),
        "o_shippriority": pa.array(np.zeros(len(ok), np.int64))})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "orders": orders, "lineitem": lineitem}


def write_sources(tables: dict[str, pa.Table], directory: str,
                  names: list[str]) -> dict[str, str]:
    """One parquet file per table; returns name -> path."""
    out = {}
    for name in names:
        path = f"{directory}/{name}.parquet"
        pq.write_table(tables[name], path, compression="snappy")
        out[name] = path
    return out


# --- SQL literal helpers ------------------------------------------------------

def date_sql(days: int) -> str:
    return f"DATE '{_date(days).isoformat()}'"


# --- analytic_reads -----------------------------------------------------------

def read_query(shape: str, rng: random.Random) -> str:
    """One seeded instance of a read shape. Every ORDER BY / LIMIT has a
    total tie-break so the result is a function of the data alone."""
    lo = _days(START)
    span = _days(END) - 151 - lo
    if shape == "point":
        k = rng.randint(1, N_ORDERS)
        return f"SELECT * FROM tpch.orders WHERE o_orderkey = {k}"
    if shape == "filter_scan":
        d = lo + rng.randrange(0, span - 365)
        disc = rng.randint(2, 8)
        return ("SELECT COUNT(*) AS n, "
                "SUM(l_extendedprice * l_discount) AS revenue "
                "FROM tpch.lineitem "
                f"WHERE l_shipdate >= {date_sql(d)} "
                f"AND l_shipdate < {date_sql(d + 365)} "
                f"AND l_discount BETWEEN {disc - 1} AND {disc + 1} "
                "AND l_quantity < 24")
    if shape == "q1_agg":
        d = _days(END) - rng.randint(60, 120)
        return ("SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS q, "
                "SUM(l_extendedprice) AS base, "
                "SUM(l_extendedprice * (100 - l_discount)) AS disc_price, "
                "SUM(l_extendedprice * (100 - l_discount) * (100 + l_tax)) "
                "AS charge, COUNT(*) AS n FROM tpch.lineitem "
                f"WHERE l_shipdate <= {date_sql(d)} "
                "GROUP BY l_returnflag, l_linestatus")
    if shape == "star_join":
        region = rng.choice(REGIONS)
        d = lo + rng.randrange(0, span - 365)
        return ("SELECT n.n_name, "
                "SUM(l.l_extendedprice * (100 - l.l_discount)) AS revenue, "
                "COUNT(*) AS n FROM tpch.lineitem l "
                "JOIN tpch.orders o ON l.l_orderkey = o.o_orderkey "
                "JOIN tpch.customer c ON o.o_custkey = c.c_custkey "
                "JOIN tpch.nation n ON c.c_nationkey = n.n_nationkey "
                "JOIN tpch.region r ON n.n_regionkey = r.r_regionkey "
                f"WHERE r.r_name = '{region}' "
                f"AND o.o_orderdate >= {date_sql(d)} "
                f"AND o.o_orderdate < {date_sql(d + 365)} "
                "GROUP BY n.n_name")
    if shape == "rank_window":
        d = lo + rng.randrange(0, span - 180)
        return ("SELECT o_custkey, o_orderkey, o_totalprice FROM ("
                "SELECT o_custkey, o_orderkey, o_totalprice, RANK() OVER ("
                "PARTITION BY o_custkey ORDER BY o_totalprice DESC, "
                "o_orderkey) AS rk FROM tpch.orders "
                f"WHERE o_orderdate >= {date_sql(d)} "
                f"AND o_orderdate < {date_sql(d + 180)}) t WHERE rk <= 2")
    if shape == "top_k":
        mode = rng.choice(SHIPMODES)
        return ("SELECT l_orderkey, "
                "SUM(l_extendedprice * (100 - l_discount)) AS revenue "
                f"FROM tpch.lineitem WHERE l_shipmode = '{mode}' "
                "GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey "
                "LIMIT 10")
    if shape == "count_distinct":
        d = lo + rng.randrange(0, span - 365)
        return ("SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS c "
                f"FROM tpch.orders WHERE o_orderdate >= {date_sql(d)} "
                f"AND o_orderdate < {date_sql(d + 365)} "
                "GROUP BY o_orderpriority")
    if shape == "exists_semi":
        d = lo + rng.randrange(0, span - 92)
        return ("SELECT o_orderpriority, COUNT(*) AS n FROM tpch.orders o "
                f"WHERE o_orderdate >= {date_sql(d)} "
                f"AND o_orderdate < {date_sql(d + 92)} AND EXISTS ("
                "SELECT 1 FROM tpch.lineitem l "
                "WHERE l.l_orderkey = o.o_orderkey "
                "AND l.l_commitdate < l.l_receiptdate) "
                "GROUP BY o_orderpriority")
    raise ValueError(shape)


def read_stream(seed: int, cycles: int) -> list[list[tuple[str, str]]]:
    """``cycles`` lists of (shape, sql), every shape once per cycle in a
    seeded order."""
    rng = random.Random(f"analytic_reads:{seed}")
    out = []
    for _ in range(cycles):
        shapes = list(READ_SHAPES)
        rng.shuffle(shapes)
        out.append([(s, read_query(s, rng)) for s in shapes])
    return out


# --- lakehouse_dml ------------------------------------------------------------

LINEITEM_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate",
                 "l_commitdate", "l_receiptdate", "l_shipmode"]
ORDERS_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority", "o_shippriority"]
MV_QUERY = ("SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
            "SUM(l_quantity) AS sum_qty, SUM(l_extendedprice) AS sum_base "
            "FROM tpch.lineitem GROUP BY l_returnflag, l_linestatus")
MV_READ = ("SELECT l_returnflag, l_linestatus, n, sum_qty, sum_base "
           "FROM tpch.mv")


def _line_values(rng: random.Random, key: int, line: int) -> str:
    odate = rng.randint(_days(START), _days(END) - 151)
    ship = odate + rng.randint(1, 121)
    receipt = ship + rng.randint(1, 30)
    qty = rng.randint(1, 50)
    flag = rng.choice("RA") if receipt <= _days(CUTOFF) else "N"
    status = "O" if ship > _days(CUTOFF) else "F"
    vals = [str(key), str(rng.randint(1, N_PARTS)),
            str(rng.randint(1, N_SUPPLIERS)), str(line),
            str(qty), str(qty * rng.randint(90000, 200000) // 100),
            str(rng.randint(0, 10)), str(rng.randint(0, 8)),
            f"'{flag}'", f"'{status}'", date_sql(ship),
            date_sql(odate + rng.randint(30, 90)), date_sql(receipt),
            f"'{rng.choice(SHIPMODES)}'"]
    return "(" + ", ".join(vals) + ")"


def _order_values(rng: random.Random, key: int) -> str:
    vals = [str(key), str(rng.randint(1, N_CUSTOMERS)),
            f"'{rng.choice('OFP')}'",
            str(rng.randint(100000, 50000000)),
            date_sql(rng.randint(_days(START), _days(END) - 151)),
            f"'{rng.choice(PRIORITIES)}'", "0"]
    return "(" + ", ".join(vals) + ")"


def dml_stream(seed: int, cycles: int) -> list[list[dict]]:
    """``cycles`` lists of ops. An op is a dict: ``cls`` (the latency
    class), ``kind`` (read/write/refresh), ``sql`` (engine text) and,
    for writes, ``duck`` (the same statement for the DuckDB replay:
    DuckDB has no MERGE, so a MERGE replays as UPDATE ... FROM plus
    INSERT ... WHERE NOT EXISTS, which is its meaning for a source with
    distinct keys)."""
    rng = random.Random(f"lakehouse_dml:{seed}")
    live = list(range(1, N_ORDERS + 1))     # original keys not yet deleted
    next_key = N_ORDERS + 1
    out = []
    for _ in range(cycles):
        ops: list[dict] = []

        def write(cls, sql, duck, read_sql):
            ops.append({"cls": cls, "kind": "write", "sql": sql,
                        "duck": duck})
            ops.append({"cls": "point", "kind": "read", "sql": read_sql})
            ops.append({"cls": "mv_read", "kind": "read", "sql": MV_READ})

        key, next_key = next_key, next_key + 1
        rows = ", ".join(_line_values(rng, key, i + 1)
                         for i in range(rng.randint(1, 4)))
        ins = f"INSERT INTO tpch.lineitem VALUES {rows}"
        write("insert", ins, [ins],
              f"SELECT * FROM tpch.lineitem WHERE l_orderkey = {key}")

        k = live.pop(rng.randrange(len(live)))
        dele = f"DELETE FROM tpch.lineitem WHERE l_orderkey = {k}"
        write("delete", dele, [dele],
              f"SELECT * FROM tpch.lineitem WHERE l_orderkey = {k}")

        k = live[rng.randrange(len(live))]
        upd = ("UPDATE tpch.lineitem SET l_quantity = l_quantity + 1, "
               f"l_discount = {rng.randint(0, 10)} WHERE l_orderkey = {k}")
        write("update", upd, [upd],
              f"SELECT * FROM tpch.lineitem WHERE l_orderkey = {k}")

        matched = live[rng.randrange(len(live))]
        new, next_key = next_key, next_key + 1
        src = (f"(VALUES {_order_values(rng, matched)}, "
               f"{_order_values(rng, new)}) AS v({', '.join(ORDERS_COLS)})")
        cols = ", ".join(ORDERS_COLS)
        svals = ", ".join(f"s.{c}" for c in ORDERS_COLS)
        merge = (f"MERGE INTO tpch.orders t USING (SELECT * FROM {src}) s "
                 "ON t.o_orderkey = s.o_orderkey WHEN MATCHED THEN UPDATE "
                 "SET o_totalprice = s.o_totalprice, "
                 "o_orderstatus = s.o_orderstatus "
                 f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({svals})")
        duck = [("UPDATE tpch.orders SET o_totalprice = s.o_totalprice, "
                 "o_orderstatus = s.o_orderstatus "
                 f"FROM (SELECT * FROM {src}) s "
                 "WHERE tpch.orders.o_orderkey = s.o_orderkey"),
                (f"INSERT INTO tpch.orders SELECT * FROM {src} "
                 "WHERE NOT EXISTS (SELECT 1 FROM tpch.orders t "
                 "WHERE t.o_orderkey = v.o_orderkey)")]
        write("merge", merge, duck,
              "SELECT * FROM tpch.orders "
              f"WHERE o_orderkey IN ({matched}, {new})")

        ops.append({"cls": "refresh", "kind": "refresh",
                    "sql": "REFRESH MATERIALIZED VIEW tpch.mv"})
        out.append(ops)
    return out


# --- catalog_ops --------------------------------------------------------------

N_NAMESPACES = 16
N_TABLES = 10_000


def table_name(i: int) -> tuple[str, str]:
    return f"ns{i % N_NAMESPACES:02d}", f"t{i:05d}"


def _zipf_sampler(rng: random.Random, n: int, s: float):
    """Zipf(s) over a seeded permutation of 0..n-1: a few hot tables,
    spread over the whole key space rather than clustered."""
    cum = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(n)))
    perm = list(range(n))
    rng.shuffle(perm)

    def draw() -> int:
        return perm[bisect.bisect_left(cum, rng.random() * cum[-1])]
    return draw


def catalog_stream(seed: int, rounds: int) -> list[list[tuple]]:
    """``rounds`` lists of catalog ops (tuples of plain values):

    * ``("lookup", i)`` — read-only begin + describe_table, Zipf keys;
    * ``("commit", i)`` — alter one table;
    * ``("multi", [i, ...])`` — alter several tables in one commit, the
      count heavy-tailed (Pareto, 2..64). The counts are the Pareto's
      quantiles at evenly spaced levels, in seeded order, so every seed
      commits the same sizes and its cost does not move with the seed;
    * ``("travel", i, back)`` — describe_table at the version ``back``
      commits before the latest;
    * ``("pair", i, j)`` — two transactions from one snapshot; i == j is
      a conflict (the second must abort), i != j must replay and land.

    Alter ops carry no revision number: the runner numbers revisions in
    commit order, which the revision model mirrors."""
    rng = random.Random(f"catalog_ops:{seed}")
    lookup = _zipf_sampler(rng, N_TABLES, 1.1)
    levels = [(k + 0.5) / rounds for k in range(rounds)]
    sizes = [min(64, max(2, int(2 * (1.0 - q) ** (-1 / 1.2))))
             for q in levels]
    rng.shuffle(sizes)
    out = []
    for size in sizes:
        ops: list[tuple] = [("lookup", lookup()) for _ in range(12)]
        ops += [("commit", rng.randrange(N_TABLES)) for _ in range(2)]
        ops.append(("multi", rng.sample(range(N_TABLES), size)))
        ops += [("travel", lookup(), rng.randint(1, 50)) for _ in range(2)]
        i, j = rng.sample(range(N_TABLES), 2)
        ops.append(("pair", i, j))
        i = rng.randrange(N_TABLES)
        ops.append(("pair", i, i))
        rng.shuffle(ops)
        out.append(ops)
    return out


def catalog_schema_json(i: int) -> str:
    """A small TPC-H-like Spark schema for table i (the def payload)."""
    cols = ORDERS_COLS if i % 2 else LINEITEM_COLS
    fields = [{"name": c, "type": "long" if c.endswith(("key", "price"))
               or c in ("l_quantity", "l_discount", "l_tax") else "string",
               "nullable": True, "metadata": {}} for c in cols]
    return json.dumps({"type": "struct", "fields": fields})

