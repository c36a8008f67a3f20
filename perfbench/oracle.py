"""DuckDB replay gate for the query_sweep outputs.

Each query's Spark result (one parquet directory per query) must match its
`SparkEntry.oracleSql` replay in DuckDB over the same tables: same row
count, same column names, and the same values (rows sorted, columns in
name order, floats rounded to 9 digits), the criteria of the engine's own
oracle checker.

The tables are fixed, so an oracle's canonical result depends only on its
SQL, the table files and the DuckDB version. It is computed once per
checkout and kept under the cache directory, keyed by all three.
"""
import glob
import hashlib
import json
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["documents", "lineitem", "orders", "customer", "part", "embeddings"]


def _canon(table):
    cols = sorted(table.column_names)

    def cell(v):
        if v is None or (isinstance(v, float) and v != v):
            return "NULL"
        if isinstance(v, float):
            return repr(round(v, 9))
        return str(v)

    data = [table.column(c).to_pylist() for c in cols]
    return cols, sorted(tuple(cell(v) for v in row) for row in zip(*data))


def _digest(rows):
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def _summary(table):
    cols, rows = _canon(table)
    return {"cols": cols, "rows": len(rows), "digest": _digest(rows)}


def _oracle(con, sql, data_key, cache_dir):
    """The oracle result's summary, from the cache or from DuckDB."""
    key = hashlib.sha256(f"{data_key}\n{duckdb.__version__}\n{sql}".encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    summary = _summary(con.execute(sql).arrow())
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(summary, fh)
    os.replace(tmp, path)
    return summary


def drop_one_row(query_dir):
    """Rewrite a query's Spark output without its first row (self-test)."""
    files = sorted(glob.glob(os.path.join(query_dir, "*.parquet")))
    table = pa.concat_tables([pq.read_table(f) for f in files])
    for f in files:
        os.remove(f)
    pq.write_table(table.slice(1), os.path.join(query_dir, "part-0.parquet"))


def check(data_dir, verify_dir, cache_dir, skip=()):
    """Returns (failures, output rows summed over the checked queries)."""
    oracles = json.load(open(os.path.join(verify_dir, "oracle_sql.json")))
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, t + ".parquet"), "rb") as fh:
            h.update(fh.read())
    data_key = h.hexdigest()
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    failures, rows = [], 0
    for name, sql in sorted(oracles.items()):
        if name in skip:
            continue
        files = glob.glob(os.path.join(verify_dir, name, "*.parquet"))
        if not files:
            failures.append(f"{name}: no Spark output")
            continue
        spark_t = pa.concat_tables([pq.read_table(f) for f in files])
        rows += spark_t.num_rows
        try:
            want = _oracle(con, sql, data_key, cache_dir)
        except Exception as e:  # an oracle that cannot run is a failed gate
            failures.append(f"{name}: oracle error {str(e)[:120]}")
            continue
        got = _summary(spark_t)
        if got["cols"] != want["cols"]:
            failures.append(f"{name}: schema {got['cols']} != {want['cols']}")
        elif got["rows"] != want["rows"]:
            failures.append(f"{name}: rows {got['rows']} != {want['rows']}")
        elif got["digest"] != want["digest"]:
            failures.append(f"{name}: value hash differs")
    con.close()
    return failures, rows
