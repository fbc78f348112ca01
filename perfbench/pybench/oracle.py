"""DuckDB check of the registry query results.

Replays the oracle SQL (`SparkEntry.oracleSql`) that the benchmark wrote for
each op, `<op>.sql`, in DuckDB over the generated tables and compares it with
the engine's parquet dump of the same registry query, `<op>/`, with the
tolerance of tools/oracle_check.py: columns compared by sorted name, equal
row counts, rows compared in returned order, floats equal within 1e-9
relative or absolute.
"""
import glob
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]


def _eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def compare(ocols, orows, scols, srows):
    """Returns None when the results agree, else why they differ."""
    if sorted(ocols) != sorted(scols):
        return "schema: oracle=%s engine=%s" % (sorted(ocols), sorted(scols))
    if len(orows) != len(srows):
        return "rows: oracle=%d engine=%d" % (len(orows), len(srows))
    operm = [ocols.index(c) for c in sorted(ocols)]
    sperm = [scols.index(c) for c in sorted(scols)]
    for i, (ro, rs) in enumerate(zip(orows, srows)):
        for io, js in zip(operm, sperm):
            if not _eq(ro[io], rs[js]):
                return "value mismatch at row %d: oracle=%r engine=%r" % (i, ro, rs)
    return None


def check(tables_dir, verify_dir):
    """Returns [(op, reason)] for every op whose result does not match."""
    oracle = {}
    for f in sorted(glob.glob(os.path.join(verify_dir, "*.sql"))):
        with open(f) as fh:
            oracle[os.path.basename(f)[:-len(".sql")]] = fh.read()
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(tables_dir, t + ".parquet")
        if os.path.exists(path):
            con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, path))
    bad = []
    for name, sql in oracle.items():
        try:
            o = con.execute(sql)
            ocols, orows = [d[0] for d in o.description], o.fetchall()
            s = con.execute("SELECT * FROM '%s/%s/*.parquet'" % (verify_dir, name))
            scols, srows = [d[0] for d in s.description], s.fetchall()
        except Exception as e:  # a query that cannot run is a failed check
            bad.append((name, "exec error: %s" % e))
            continue
        why = compare(ocols, orows, scols, srows)
        if why:
            bad.append((name, why))
    return bad
