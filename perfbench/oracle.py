"""Output check against the DuckDB oracle, normalized the way the
repository's oracle compare normalizes: columns sorted by name, object
columns as strings, rows sorted, values compared exactly.
"""
import hashlib
import json
import os
import pickle

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# The written fact snapshot, projected to the q_fact_build columns.
FACT_SQL = """SELECT order_number, round(quantity, 4) AS quantity,
       round(revenue, 4) AS revenue, user_sk, product_sk, location_sk, date_sk
FROM read_parquet('{path}/*/*.parquet')"""


def normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.astype({c: "string" for c in df.columns if df[c].dtype == object})
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(got, want):
    """None when the frames match, else a one-line reason."""
    import pandas as pd
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "value mismatch: " + " ".join(str(e).split())[:200]
    return None


def expected(con, cache_dir, fixture_dir, name, sql):
    """The oracle's result for `sql`, computed once per fixture and SQL
    text and kept (pickled, so the frame is exactly what DuckDB gave)."""
    key = hashlib.sha256(f"{fixture_dir}\n{sql}".encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"{name}-{key}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    want = con.execute(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(want, f)
    os.replace(path + ".tmp", path)
    return want


def check(verify_dir, fixture_dir, cache_dir, tmp_dir):
    """Compare every dumped query result (or, for the ETL build, the
    written fact snapshot) with its oracle SQL on `fixture_dir`.
    Returns {op: None or failure reason}."""
    import duckdb
    import pandas as pd
    con = duckdb.connect(config={"threads": "2", "memory_limit": "2GB",
                                 "temp_directory": tmp_dir})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fixture_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(verify_dir, "oracle_sql.json")))
    result = {}
    for name, sql in sorted(oracle.items()):
        if sql is None:
            result[name] = "no oracle SQL"
            continue
        try:
            if name == "buildWarehouse":
                fact = os.path.join(verify_dir, "warehouse", "fact_sales")
                got = con.execute(FACT_SQL.format(path=fact)).df()
            else:
                got = pd.read_parquet(os.path.join(verify_dir, name))
        except Exception as e:
            result[name] = f"no output ({str(e)[:200]})"
            continue
        try:
            want = expected(con, cache_dir, fixture_dir, name, sql)
        except Exception as e:
            result[name] = f"oracle error ({str(e)[:200]})"
            continue
        result[name] = compare(got, want)
    return result
