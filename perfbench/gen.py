"""Seeded input generators and DuckDB reference results.

Every input the engine sees in a benchmark run is written here, from the
seed alone: TPC-H-shaped tables, a dirty lineitem CSV, a document corpus,
embedding vectors, nightly SCD2 snapshots and per-day event files. The
expected results are computed independently with DuckDB over the same
files; the Spark engine is never consulted.

The static inputs of a workload are made by running this file as a child
process (so the benchmark process pays no import cost for them before its
set-up is timed)::

    python3 perfbench/gen.py <workload> <seed> <out_dir>

It writes the inputs under ``out_dir`` and ``expected.json`` beside them.
The per-unit inputs of ``nightly_increments`` (one night's customer
snapshot and one day's events) are made on demand by
:class:`NightlySnapshots` and :class:`EventDays`, also from the seed.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Sizes. Chosen so a warm unit takes about a second on a 4-core host and a
# run of every workload fits the benchmark's time budget.
ETL_ORDERS = 10_000
ETL_LINES = 30_000
ETL_NULL_FRAC = 0.025
ETL_DUP_FRAC = 0.025

FAN_ORDERS = 8_000
FAN_CUSTOMERS = 1_000
FAN_SUPPLIERS = 100
FAN_DOCS = 1_200
FAN_DOC_DUP_FRAC = 0.02
FAN_VECS = 600
FAN_VEC_DIM = 16
FAN_VEC_DUP_FRAC = 0.02

SCD2_KEYS = 20_000
SCD2_CHANGE_FRAC = 0.10

STREAM_USERS = 150
STREAM_DUP_FRAC = 0.03
STREAM_HEARTBEAT_USER = 0

NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EPOCH = dt.date(1992, 1, 1)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _epoch_days(days: np.ndarray) -> pa.Array:
    base = (EPOCH - dt.date(1970, 1, 1)).days
    return pa.array((days + base).astype("int32"), pa.int32()).cast(pa.date32())


def file_bytes(path: str) -> int:
    """Bytes of a file, or of every file below a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# -- TPC-H-shaped tables ------------------------------------------------------


def _orders(rng: np.random.Generator, n: int, n_customers: int) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(1, n + 1, dtype="int64")),
        "o_custkey": pa.array(rng.integers(1, n_customers + 1, n).astype("int64")),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 400_000, n), 2)),
        "o_orderdate": _epoch_days(rng.integers(0, 2400, n)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
    })


def _lineitem(rng: np.random.Generator, orders: pa.Table, n: int, n_parts: int,
              n_suppliers: int) -> pa.Table:
    """``n`` lines over the orders, 1-7 per order; ``(l_orderkey,
    l_linenumber)`` is unique by construction."""
    per_order = rng.integers(1, 8, orders.num_rows)
    ends = np.cumsum(per_order)
    k = int(np.searchsorted(ends, n)) + 1
    per_order = per_order[:k]
    per_order[-1] -= int(ends[k - 1] - n)
    orderkey = np.repeat(orders["o_orderkey"].to_numpy()[:k], per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    linenumber = (np.arange(n) - starts + 1).astype("int32")
    odate = (
        np.repeat(orders["o_orderdate"].cast(pa.int32()).to_numpy()[:k], per_order)
        - (EPOCH - dt.date(1970, 1, 1)).days
    )
    qty = rng.integers(1, 51, n).astype("float64")
    price = np.round(qty * rng.uniform(900, 2100, n) / 10, 2)
    return pa.table({
        "l_orderkey": pa.array(orderkey.astype("int64")),
        "l_linenumber": pa.array(linenumber),
        "l_partkey": pa.array(rng.integers(1, n_parts + 1, n).astype("int64")),
        "l_suppkey": pa.array(rng.integers(1, n_suppliers + 1, n).astype("int64")),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _epoch_days(odate + rng.integers(1, 122, n)),
    })


def _customers(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(1, n + 1, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype("int32")),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n)),
    })


def _suppliers(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "s_suppkey": pa.array(np.arange(1, n + 1, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, n + 1)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype("int32")),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n), 2)),
    })


def _nation_region() -> tuple[pa.Table, pa.Table]:
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([n for n, _ in NATIONS]),
        "n_regionkey": pa.array(np.array([r for _, r in NATIONS], dtype="int32")),
    })
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(REGIONS),
    })
    return nation, region


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _rows(con: duckdb.DuckDBPyConnection, sql: str) -> list:
    return [list(r) for r in con.execute(sql).fetchall()]


# -- etl_quarantine -----------------------------------------------------------

#: typing step and daily join-aggregate, shared by the job config and the
#: reference computation (the SQL is plain enough for both dialects)
ETL_TYPED_SQL = (
    "SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey, "
    "CAST(l_linenumber AS INT) AS l_linenumber, "
    "CAST(l_partkey AS BIGINT) AS l_partkey, CAST(l_suppkey AS BIGINT) AS l_suppkey, "
    "CAST(l_quantity AS DOUBLE) AS l_quantity, "
    "CAST(l_extendedprice AS DOUBLE) AS l_extendedprice, "
    "CAST(l_discount AS DOUBLE) AS l_discount, CAST(l_tax AS DOUBLE) AS l_tax, "
    "l_returnflag, l_linestatus, CAST(l_shipdate AS DATE) AS l_shipdate, "
    "CAST(ingest_seq AS BIGINT) AS ingest_seq FROM {src}"
)
ETL_DAILY_SQL = (
    "SELECT l.l_shipdate AS ship_date, o.o_orderpriority AS priority, "
    "COUNT(*) AS n_lines, SUM(l.l_quantity) AS qty, "
    "SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue "
    "FROM {lines} l JOIN {orders} o ON l.l_orderkey = o.o_orderkey "
    "GROUP BY l.l_shipdate, o.o_orderpriority"
)


def gen_etl(seed: int, out: str) -> dict:
    rng = _rng(seed, 1)
    orders = _orders(rng, ETL_ORDERS, 10_000)
    lines = _lineitem(rng, orders, ETL_LINES, 20_000, 1_000)
    n = lines.num_rows
    # duplicates: copies of clean rows under the same (unique) key, half
    # newer than the original (the copy survives) and half older
    n_dup = int(n * ETL_DUP_FRAC)
    dup_src = rng.choice(n, n_dup, replace=False)
    newer = rng.random(n_dup) < 0.5
    dups = lines.take(pa.array(dup_src))
    qty = dups.schema.get_field_index("l_quantity")
    dups = dups.set_column(qty, "l_quantity", pa.array(
        dups["l_quantity"].to_numpy() + rng.integers(1, 5, n_dup)))
    # null keys: injected on rows that are not duplicate sources, so every
    # bad row has exactly one reason
    nulls = np.zeros(n, dtype=bool)
    nulls[rng.choice(np.setdiff1d(np.arange(n), dup_src), int(n * ETL_NULL_FRAC), replace=False)] = True
    lines = lines.set_column(0, "l_orderkey", pa.array(lines["l_orderkey"].to_numpy(), mask=nulls))
    table = pa.concat_tables([lines, dups])
    seq = np.concatenate([np.arange(n), np.where(newer, n + np.arange(n_dup), -1 - np.arange(n_dup))])
    table = table.append_column("ingest_seq", pa.array(seq))
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    csv_path = os.path.join(out, "lineitem_raw.csv")
    os.makedirs(out, exist_ok=True)
    pacsv.write_csv(table, csv_path)
    orders_path = os.path.join(out, "orders.parquet")
    _write(orders, orders_path)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW raw AS SELECT * FROM read_csv('{csv_path}', header=true)")
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{orders_path}')")
    con.execute(
        "CREATE TABLE ranked AS SELECT *, row_number() OVER (PARTITION BY l_orderkey, "
        "l_linenumber ORDER BY ingest_seq DESC) AS rn FROM raw "
        "WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL"
    )
    con.execute("CREATE VIEW good AS SELECT * EXCLUDE (rn) FROM ranked WHERE rn = 1")
    con.execute("CREATE TABLE typed AS " + ETL_TYPED_SQL.format(src="good"))
    (n_null,) = con.execute(
        "SELECT COUNT(*) FROM raw WHERE l_orderkey IS NULL OR l_linenumber IS NULL"
    ).fetchone()
    (n_dup_bad,) = con.execute("SELECT COUNT(*) FROM ranked WHERE rn > 1").fetchone()
    exp = {
        "input_rows": table.num_rows + orders.num_rows,
        "input_bytes": file_bytes(csv_path) + file_bytes(orders_path),
        "csv": csv_path,
        "orders": orders_path,
        "good": con.execute("SELECT COUNT(*) FROM typed").fetchone()[0],
        "bad_null": n_null,
        "bad_dup": n_dup_bad,
        "typed_checksum": typed_checksum(con, "typed"),
        "daily": _rows(con, ETL_DAILY_SQL.format(lines="typed", orders="orders")
                       + " ORDER BY ship_date, priority"),
    }
    con.close()
    return exp


def typed_checksum(con: duckdb.DuckDBPyConnection, rel: str) -> list:
    """Order-free checksum of the typed lineitem target."""
    return list(con.execute(
        f"SELECT COUNT(*), SUM(l_orderkey), SUM(l_linenumber), SUM(l_quantity), "
        f"ROUND(SUM(l_extendedprice), 2), SUM(ingest_seq), "
        f"SUM(hash(l_returnflag, l_linestatus, l_shipdate) % 1000003) FROM {rel}"
    ).fetchone())


# -- pipeline_fanout ----------------------------------------------------------

FAN_SQL = {
    "q1": (
        "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
        "SUM(l_extendedprice) AS sum_base_price, "
        "SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price, "
        "SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge, "
        "AVG(l_quantity) AS avg_qty, AVG(l_discount) AS avg_disc, COUNT(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= DATE '1998-09-02' "
        "GROUP BY l_returnflag, l_linestatus"
    ),
    "q3": (
        "SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue, o_orderdate "
        "FROM customer, orders, lineitem WHERE c_mktsegment = 'BUILDING' "
        "AND c_custkey = o_custkey AND l_orderkey = o_orderkey "
        "AND o_orderdate < DATE '1995-03-15' AND l_shipdate > DATE '1995-03-15' "
        "GROUP BY l_orderkey, o_orderdate ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"
    ),
    "q5": (
        "SELECT n_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue "
        "FROM customer, orders, lineitem, supplier, nation, region "
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey "
        "AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey "
        "AND n_regionkey = r_regionkey AND r_name = 'ASIA' GROUP BY n_name"
    ),
    "q10": (
        "SELECT c_custkey, c_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue, "
        "c_acctbal, n_name FROM customer, orders, lineitem, nation "
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
        "AND o_orderdate >= DATE '1993-10-01' AND o_orderdate < DATE '1994-07-01' "
        "AND l_returnflag = 'R' AND c_nationkey = n_nationkey "
        "GROUP BY c_custkey, c_name, c_acctbal, n_name "
        "ORDER BY revenue DESC, c_custkey LIMIT 20"
    ),
}
FAN_TABLES = {
    "q1": ["lineitem"],
    "q3": ["customer", "orders", "lineitem"],
    "q5": ["customer", "orders", "lineitem", "supplier", "nation", "region"],
    "q10": ["customer", "orders", "lineitem", "nation"],
}
FAN_TOKENS_SQL = "SELECT doc_id, py_token_count(text) AS n_tokens FROM documents"
FAN_REPORT_SQL = (
    "SELECT r.n_name, r.revenue AS region_revenue, COUNT(t.c_custkey) AS n_top_customers, "
    "COALESCE(SUM(t.revenue), 0) AS top_revenue "
    "FROM q5_out r LEFT JOIN q10_out t ON r.n_name = t.n_name "
    "GROUP BY r.n_name, r.revenue"
)
MINHASH_THRESHOLD = 0.8
EMBED_THRESHOLD = 0.9
KMEANS_K = 8


def _documents(rng: np.random.Generator, n: int) -> tuple[pa.Table, list]:
    vocab = np.array([f"w{i}" for i in range(3000)])
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(k))])
             for k in rng.integers(30, 120, n)]
    n_dup = int(n * FAN_DOC_DUP_FRAC)
    src = rng.choice(n, n_dup, replace=False)
    planted = []
    for j, s in enumerate(src):
        texts.append(texts[int(s)])
        planted.append([int(s) + 1, n + j + 1])
    total = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(1, total + 1, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "de", "fr"], total)),
    }), planted


def _embeddings(rng: np.random.Generator, n: int, dim: int) -> tuple[pa.Table, list]:
    vecs = rng.standard_normal((n, dim)).astype("float32")
    n_dup = int(n * FAN_VEC_DUP_FRAC)
    src = rng.choice(n, n_dup, replace=False)
    noise = rng.standard_normal((n_dup, dim)).astype("float32") * 1e-3
    vecs = np.vstack([vecs, vecs[src] + noise])
    planted = [[int(s) + 1, n + j + 1] for j, s in enumerate(src)]
    total = len(vecs)
    return pa.table({
        "vec_id": pa.array(np.arange(1, total + 1, dtype="int64")),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    }), planted


def gen_fanout(seed: int, out: str) -> dict:
    rng = _rng(seed, 2)
    customer = _customers(rng, FAN_CUSTOMERS)
    orders = _orders(rng, FAN_ORDERS, FAN_CUSTOMERS)
    lineitem = _lineitem(rng, orders, 3 * FAN_ORDERS, 2_000, FAN_SUPPLIERS)
    nation, region = _nation_region()
    tables = {
        "customer": customer, "orders": orders, "lineitem": lineitem,
        "supplier": _suppliers(rng, FAN_SUPPLIERS),
        "nation": nation, "region": region,
    }
    docs, doc_pairs = _documents(rng, FAN_DOCS)
    vecs, vec_pairs = _embeddings(rng, FAN_VECS, FAN_VEC_DIM)
    tables["documents"] = docs
    tables["embeddings"] = vecs
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(out, f"{name}.parquet")
        _write(t, paths[name])

    con = duckdb.connect()
    for name, p in paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    results = {q: _rows(con, sql) for q, sql in FAN_SQL.items()}
    con.execute(f"CREATE TABLE q5_out AS {FAN_SQL['q5']}")
    con.execute(f"CREATE TABLE q10_out AS {FAN_SQL['q10']}")
    results["report"] = _rows(con, FAN_REPORT_SQL)
    results["tokens"] = list(con.execute(
        "SELECT COUNT(*), SUM(len(string_split(text, ' '))), "
        "SUM(doc_id * len(string_split(text, ' '))) FROM documents"
    ).fetchone())
    # every table the manifest reads, once per unit
    read = {"lineitem": 4, "orders": 3, "customer": 3, "supplier": 1, "nation": 2,
            "region": 1, "documents": 2, "embeddings": 2}
    exp = {
        "paths": paths,
        "input_rows": sum(tables[t].num_rows * k for t, k in read.items()),
        "input_bytes": sum(file_bytes(paths[t]) * k for t, k in read.items()),
        "results": results,
        "doc_pairs": doc_pairs,
        "vec_pairs": vec_pairs,
        "n_docs": docs.num_rows,
        "n_vecs": vecs.num_rows,
    }
    con.close()
    return exp


# -- nightly_increments: SCD2 snapshots ----------------------------------------


class NightlySnapshots:
    """Night ``k``'s full snapshot of ``SCD2_KEYS`` customer rows; each night
    about ``SCD2_CHANGE_FRAC`` of the keys change one attribute set."""

    def __init__(self, seed: int, out: str):
        self.seed = seed
        self.out = out
        rng = _rng(seed, 3, 0)
        n = SCD2_KEYS
        self.keys = np.arange(1, n + 1, dtype="int64") * 7 + 1000
        self.segment = rng.integers(0, len(SEGMENTS), n)
        self.tier = rng.integers(1, 6, n).astype("int32")
        self.balance = rng.integers(-99_999, 999_999, n).astype("int64")
        self.night = -1

    def next(self) -> tuple[str, int, int]:
        """Write the next night's snapshot; returns its path, its row
        count and the number of keys that changed since the previous night."""
        self.night += 1
        changed = 0
        if self.night > 0:
            rng = _rng(self.seed, 3, self.night)
            idx = rng.choice(len(self.keys), int(len(self.keys) * SCD2_CHANGE_FRAC), replace=False)
            self.tier[idx] = (self.tier[idx] % 5) + 1
            self.balance[idx] += rng.integers(1, 10_000, len(idx))
            self.segment[idx] = rng.integers(0, len(SEGMENTS), len(idx))
            changed = len(idx)
        path = os.path.join(self.out, f"night={self.night:04d}", "snapshot.parquet")
        _write(pa.table({
            "cust_id": pa.array(self.keys),
            "segment": pa.array(np.array(SEGMENTS)[self.segment]),
            "tier": pa.array(self.tier),
            "balance_cents": pa.array(self.balance),
        }), path)
        return path, len(self.keys), changed


def scd2_expected(snapshot_glob: str) -> tuple[int, list]:
    """(history row count, order-free checksum of per-key version counts)
    after every snapshot under the glob has been merged, one per night."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW s AS SELECT *, CAST(regexp_extract(filename, 'night=([0-9]+)', 1) AS INT) "
        f"AS night FROM read_parquet('{snapshot_glob}', filename=true, hive_partitioning=false)"
    )
    versions = con.execute(
        "WITH c AS (SELECT cust_id, night, (segment, tier, balance_cents) IS DISTINCT FROM "
        "lag((segment, tier, balance_cents)) OVER (PARTITION BY cust_id ORDER BY night) AS ch "
        "FROM s), v AS (SELECT cust_id, SUM(CASE WHEN ch THEN 1 ELSE 0 END) AS n FROM c "
        "GROUP BY cust_id) SELECT SUM(n), SUM(cust_id * n), COUNT(*) FROM v"
    ).fetchone()
    con.close()
    return int(versions[0]), [int(x) for x in versions]


# -- nightly_increments: event days -------------------------------------------

STREAM_START = dt.datetime(2024, 3, 1)
SESSION_GAP_MIN = 30


class EventDays:
    """Day ``k``'s events, landed as one JSON-lines file. Regular events fall
    between 08:00 and 17:00 in sessions with gaps of at most 10 minutes and
    at least an hour between sessions; a heartbeat user posts at 23:59, so
    each day's event-time watermark passes every regular session of that
    day. About ``STREAM_DUP_FRAC`` of the events are re-delivered copies."""

    def __init__(self, seed: int):
        self.seed = seed
        self.day = -1
        self.next_id = 1

    def next(self, path: str) -> int:
        self.day += 1
        rng = _rng(self.seed, 4, self.day)
        base = STREAM_START + dt.timedelta(days=self.day)
        rows = []
        for user in range(1, STREAM_USERS + 1):
            t = base + dt.timedelta(hours=8, minutes=int(rng.integers(0, 60)))
            for _ in range(int(rng.integers(1, 4))):
                for _ in range(int(rng.integers(2, 12))):
                    rows.append((t, user))
                    t += dt.timedelta(minutes=int(rng.integers(1, 11)), seconds=int(rng.integers(0, 60)))
                t += dt.timedelta(minutes=int(rng.integers(60, 120)))
                if t.hour >= 17:
                    break
        rows.append((base + dt.timedelta(hours=23, minutes=59), STREAM_HEARTBEAT_USER))
        types = np.array(["view", "click", "cart", "buy"])
        out = []
        for ts, user in rows:
            out.append({
                "event_id": self.next_id, "ts": ts.strftime("%Y-%m-%d %H:%M:%S"),
                "user_id": user, "event_type": str(types[rng.integers(0, 4)]),
                "value": round(float(rng.uniform(0, 100)), 2),
            })
            self.next_id += 1
        dups = rng.choice(len(out), int(len(out) * STREAM_DUP_FRAC), replace=False)
        out.extend(out[int(i)] for i in dups)
        order = rng.permutation(len(out))
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            for i in order:
                fh.write(json.dumps(out[int(i)]) + "\n")
        os.replace(tmp, path)
        return len(out)


def stream_expected(events_glob: str, days_landed: int) -> list:
    """(session count, total events, order-free checksum) of the sessions a
    watermarked append stream has closed after ``days_landed`` days: every
    regular session of those days plus the heartbeat sessions of all days
    but the last, whose session the last day's watermark has not passed."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW e AS SELECT DISTINCT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id "
        f"FROM read_json('{events_glob}', format='newline_delimited', "
        f"columns={{event_id: 'BIGINT', ts: 'VARCHAR', user_id: 'BIGINT', "
        f"event_type: 'VARCHAR', value: 'DOUBLE'}})"
    )
    last_day = STREAM_START + dt.timedelta(days=days_landed - 1)
    row = con.execute(
        f"WITH o AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL OR "
        f"ts - lag(ts) OVER w >= INTERVAL {SESSION_GAP_MIN} MINUTE THEN 1 ELSE 0 END AS brk "
        f"FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
        f"s AS (SELECT user_id, ts, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid FROM o), "
        f"g AS (SELECT user_id, sid, MIN(ts) AS st, COUNT(*) AS n FROM s GROUP BY user_id, sid) "
        f"SELECT COUNT(*), SUM(n), SUM((user_id + 1) * n * (epoch(st)::BIGINT % 100003)) FROM g "
        f"WHERE NOT (user_id = {STREAM_HEARTBEAT_USER} AND st >= TIMESTAMP '{last_day:%Y-%m-%d}')"
    ).fetchone()
    con.close()
    return [int(x) for x in row]


GENERATORS = {"etl_quarantine": gen_etl, "pipeline_fanout": gen_fanout}


def main(argv: list[str]) -> int:
    workload, seed, out = argv[0], int(argv[1]), argv[2]
    os.makedirs(out, exist_ok=True)
    gen = GENERATORS.get(workload)
    exp = gen(seed, out) if gen else {}
    with open(os.path.join(out, "expected.json"), "w", encoding="utf-8") as fh:
        json.dump(exp, fh, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
