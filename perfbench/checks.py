"""Output checks made after the JVM exits, outside every timed region.

- `migrate` / `resync`: the kept destination (hive layout) holds exactly
  the source's rows, each under the partition its `l_shipdate` month
  names, read independently with DuckDB.
- `analytics`: each query's cold-pass output matches its DuckDB oracle
  SQL over the same inputs, compared as `tools/check_oracle.py` compares
  (columns sorted by name, values stringified); every measured
  execution's row count equals the oracle's.

Each failed check names one operation the JVM already counted as
attempted; the caller adds it to `failed`. `check` returns the list of
failures.
"""
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
KEY = "l_shipdate_month"


def norm(df):
    """Sort columns by name; stringify values (as the oracle gate does)."""
    df = df[sorted(df.columns)]
    return [tuple(str(v) for v in row) for row in df.itertuples(index=False)]


def destination_errors(source, dest):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW src AS SELECT * FROM read_parquet('{source}')")
    con.execute(
        "CREATE VIEW dst AS SELECT * FROM read_parquet("
        f"'{dest}/*/*.parquet', hive_partitioning = true, "
        "hive_types_autocast = false)")
    cols = ", ".join(c[0] for c in con.execute("DESCRIBE src").fetchall())
    errors = []
    for a, b in (("src", "dst"), ("dst", "src")):
        n = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM {a} "
                        f"EXCEPT ALL SELECT {cols} FROM {b})").fetchone()[0]
        if n:
            errors.append(f"destination check: {n} rows of {a} missing in {b}")
    bad = con.execute(f"SELECT count(*) FROM dst WHERE {KEY} <> "
                      "strftime(l_shipdate, '%Y-%m')").fetchone()[0]
    if bad:
        errors.append(f"destination check: {bad} rows under the wrong partition")
    return errors


def oracle_errors(res, input_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{input_dir}/{t}.parquet')")
    errors, want_rows = [], {}
    errors += [f"oracle {q}: no oracle SQL" for q in res["order"]
               if q not in res["oracle_sql"]]
    for name, sql in sorted(res["oracle_sql"].items()):
        try:
            want = con.sql(sql).df()
            want_rows[name] = len(want)
            if name not in res["cold_ok"]:
                continue  # its failure is already counted
            got = con.sql(f"SELECT * FROM read_parquet("
                          f"'{res['check_out']}/{name}/*.parquet')").df()
        except Exception as e:  # noqa: BLE001 - any oracle error fails the query
            errors.append(f"oracle {name}: {e}")
            continue
        g, w = norm(got), norm(want)
        if sorted(got.columns) != sorted(want.columns):
            errors.append(f"oracle {name}: columns {sorted(got.columns)} "
                          f"vs {sorted(want.columns)}")
        elif sorted(g) != sorted(w):
            errors.append(f"oracle {name}: values differ "
                          f"({len(g)} rows vs {len(w)})")
    for i, unit in enumerate(res["units"] + res["traced_units"]):
        for name, rows in unit["rows"].items():
            if name in want_rows and rows != want_rows[name]:
                errors.append(f"pass {i} {name}: {rows} rows, oracle "
                              f"{want_rows[name]}")
    return errors


def check(workload, res, work):
    if workload == "analytics":
        return oracle_errors(res, work / "input")
    return destination_errors(res["check_source"], res["check_dest"])
