"""Seeded input generation for the benchmark.

Every table the benchmark feeds the program is made here from a seed, with
the schemas and value ranges of the project's TPC-H-ish star schema, the
`events` stream and the LLM-pipeline tables (`documents`, `embeddings`).
The same seed gives byte-identical parquet files.

Two families of inputs:

- `analytics_tables(out_dir, seed, sf)` writes all ten tables at scale
  factor `sf` (lineitem = 6,000,000 x sf rows);
- `migration_table(path, seed, months, rows_per_month)` writes one
  lineitem-shaped table whose `l_shipdate` covers `months` consecutive
  months, and `drift(...)` writes a copy of it that differs in a seeded
  set of months by a value change in one data column.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gizmo", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()

# Columns whose value the resync drift may change (one per run, seeded).
DRIFT_COLUMNS = ["l_quantity", "l_discount", "l_tax", "l_extendedprice"]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _lineitem(rng, n, n_orders, n_parts, n_supps, shipdates):
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supps, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": pa.array(shipdates, pa.timestamp("us")),
    })


def _documents(rng, n):
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(rng.choice(WORDS, k)))
    # ~5% near-duplicates: another document's text plus a "dup" marker.
    for i in rng.choice(n, max(1, n // 20), replace=False):
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup" * int(rng.integers(1, 3))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n, dim=64):
    v = rng.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim), pa.int32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _events(rng, n, n_users):
    gaps = rng.exponential(30 * 86400 / n, n)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = start + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def analytics_tables(out_dir, seed, sf):
    """Write the ten analytics tables at scale factor `sf` into `out_dir`."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(5, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    }), f"{out_dir}/supplier.parquet")
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
    }), f"{out_dir}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1),
                                      dt.date(2001, 8, 1), n_ord),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    }), f"{out_dir}/orders.parquet")
    _write(_lineitem(rng, n_line, n_ord, n_part, n_supp,
                     _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4),
                           n_line)),
           f"{out_dir}/lineitem.parquet")
    _write(_events(rng, n_ev, n_users), f"{out_dir}/events.parquet")
    _write(_documents(rng, n_docs), f"{out_dir}/documents.parquet")
    _write(_embeddings(rng, n_emb), f"{out_dir}/embeddings.parquet")


def migration_table(path, seed, months, rows_per_month):
    """Write a lineitem-shaped table spanning `months` months from
    1995-01; return {month: row count}."""
    rng = np.random.default_rng([seed, 2])
    n = months * rows_per_month
    first = np.datetime64("1995-01", "M")
    month = first + rng.integers(0, months, n).astype("timedelta64[M]")
    day = rng.integers(0, 28, n).astype("timedelta64[D]")
    ship = month.astype("datetime64[D]") + day
    table = _lineitem(rng, n, n // 4, 2000, 100, ship.astype("datetime64[us]"))
    _write(table, path)
    keys, counts = np.unique(month.astype(str), return_counts=True)
    return dict(zip(keys.tolist(), counts.tolist()))


def drift(src_path, dst_path, seed, n_drift):
    """Copy `src_path` to `dst_path`, changing one seeded data column in
    one row of each of `n_drift` seeded months. Return (months, column)."""
    rng = np.random.default_rng([seed, 3])
    table = pq.read_table(src_path)
    ship = table.column("l_shipdate").to_numpy()
    months = ship.astype("datetime64[M]").astype(str)
    chosen = sorted(rng.choice(np.unique(months), n_drift, replace=False).tolist())
    column = DRIFT_COLUMNS[int(rng.integers(0, len(DRIFT_COLUMNS)))]
    values = table.column(column).to_numpy().copy()
    for m in chosen:
        row = int(rng.choice(np.flatnonzero(months == m)))
        values[row] = values[row] + 1.0
    idx = table.schema.get_field_index(column)
    _write(table.set_column(idx, column, pa.array(values)), dst_path)
    return chosen, column

