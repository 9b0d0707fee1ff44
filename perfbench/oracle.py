"""DuckDB oracle check for the analytics warm pass.

Each registered query's oracle SQL runs on the same generated parquet
tables the Spark query read; the Spark result (written by the warm pass)
must match it in column names, dtypes, row count and every value in row
order, compared the way graft's local verifier compares them.

When the interpreter cannot import duckdb, `run.py` asks the harness for
its stand-in instead (`Analytics.finish`: every warm-pass result against
the same query on a reference engine setup) and says so in its output.
"""
import math

try:
    import duckdb
except ImportError:
    duckdb = None

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def _rows(rel):
    cols = rel.columns
    return [[canon(v) for _, v in sorted(zip(cols, r))] for r in rel.fetchall()]


def available():
    return duckdb is not None


def compare(con, got_path, sql):
    """Returns (error message or None, number of rows Spark wrote)."""
    got = con.sql(f"SELECT * FROM '{got_path}/*.parquet'")
    exp = con.sql(sql)
    got_types = dict(zip(got.columns, map(str, got.types)))
    exp_types = dict(zip(exp.columns, map(str, exp.types)))
    got_rows, exp_rows = _rows(got), _rows(exp)
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns spark={sorted(got.columns)} oracle={sorted(exp.columns)}", len(got_rows)
    if got_types != exp_types:
        return f"dtypes spark={got_types} oracle={exp_types}", len(got_rows)
    if len(got_rows) != len(exp_rows):
        return f"rows spark={len(got_rows)} oracle={len(exp_rows)}", len(got_rows)
    for i, (x, y) in enumerate(zip(got_rows, exp_rows)):
        if x != y:
            return f"row {i} spark={x} oracle={y}", len(got_rows)
    return None, len(got_rows)


def check(info, log):
    """Checks every warm-pass result. Returns ({query: error}, {query: rows})."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{info['data_dir']}/{t}.parquet/*.parquet'")
    bad, rows = {}, {}
    for q in info["queries"]:
        sql = info["oracle_sql"].get(q)
        try:
            err, n = compare(con, f"{info['results_dir']}/{q}", sql) if sql else ("no oracle SQL", 0)
        except Exception as e:  # a missing result or an oracle error fails the query
            err, n = f"exception {e}", -1
        rows[q] = n
        if err:
            bad[q] = f"{q}: {err[:300]}"
            log(f"oracle FAIL {bad[q]}")
    return bad, rows
