"""DuckDB oracle for the oracle-checked workloads.

The engine's own oracle SQL (graft.SparkEntry.oracleSql, written into
each fixture as oracle_sql.json) runs in DuckDB over the fixture's
tables; each op's result dumped by the harness is compared with it after
both are canonicalised the way scripts/check.py does: columns sorted by
name, rows in result order, every cell hashed."""
import glob
import hashlib
import json
import os

import duckdb


def _source(path):
    """A parquet table as DuckDB reads it: a single file, or the part
    files of a Spark-written directory."""
    return "'%s/*.parquet'" % path if os.path.isdir(path) else "'%s'" % path


def parquet_rows(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(path) else [path]
    if not files:
        return 0
    listed = ", ".join("'%s'" % f for f in files)
    return duckdb.sql("SELECT count(*) FROM read_parquet([%s])" % listed).fetchone()[0]


def _cell(v):
    if v is None or v != v:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def digest(df):
    """(columns, rows, hash) of a result, columns sorted by name."""
    df = df.reindex(sorted(df.columns), axis=1)
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update(("|".join(_cell(v) for v in row) + "\n").encode())
    return {"columns": list(df.columns), "rows": len(df), "hash": h.hexdigest()}


def goldens(fixture):
    """Oracle digests of every op with oracle SQL in the fixture."""
    path = os.path.join(fixture, "oracle_sql.json")
    if not os.path.exists(path):
        return {}
    sql = json.load(open(path))
    con = duckdb.connect()
    for name in sorted(os.listdir(fixture)):
        if name.endswith(".parquet"):
            con.execute("CREATE VIEW %s AS SELECT * FROM %s"
                        % (name[:-len(".parquet")], _source(os.path.join(fixture, name))))
    return {name: digest(con.sql(q).df()) for name, q in sorted(sql.items())}


def check(dump_dir, golden, names):
    """Names of the ops whose dumped result differs from its golden (a
    missing dump or golden counts as a difference)."""
    bad = []
    for name in names:
        path = os.path.join(dump_dir, name)
        if name not in golden or not glob.glob(os.path.join(path, "*.parquet")):
            bad.append(name)
            continue
        got = digest(duckdb.sql("SELECT * FROM %s" % _source(path)).df())
        if got != golden[name]:
            bad.append(name)
    return bad
