"""DuckDB oracle check for catalogue rows: each row's Spark result (parquet,
written by the benchmark's cold pass) must equal the row's oracle SQL
(`SparkEntry.oracleSql`) over the same generated fixture: same column names,
same column types, same multiset of rows (values compared as canonical
strings, so a float must match to the last digit)."""

import datetime
import glob
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (bool, datetime.datetime)):
        return repr(v)
    if isinstance(v, list):
        return "[" + ",".join(str(_canon(x)) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join("%s:%s" % (k, _canon(x)) for k, x in v.items()) + "}"
    return str(v)


def check(fixture_dir, results_dir, oracle_sql):
    """Return {row: None if it matches, else the first difference}."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, fixture_dir, t))
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            files = sorted(glob.glob("%s/%s/*.parquet" % (results_dir, name)))
            if not files:
                out[name] = "no result files"
                continue
            spark_rel = "SELECT * FROM read_parquet(%r)" % files
            stypes = [(r[0], r[1]) for r in con.sql("DESCRIBE " + spark_rel).fetchall()]
            dtypes = [(r[0], r[1]) for r in con.sql("DESCRIBE (%s)" % sql).fetchall()]
            scols = [c for c, _ in stypes]
            dcols = [c for c, _ in dtypes]
            if sorted(scols) != sorted(dcols):
                out[name] = "columns %s vs oracle %s" % (sorted(scols), sorted(dcols))
                continue
            sidx = sorted(range(len(scols)), key=lambda i: (scols[i], i))
            didx = sorted(range(len(dcols)), key=lambda i: (dcols[i], i))
            tdiff = [(stypes[i], dtypes[j]) for i, j in zip(sidx, didx)
                     if stypes[i][1] != dtypes[j][1]]
            if tdiff:
                out[name] = "types differ: %s" % tdiff
                continue
            srows = sorted((tuple(_canon(r[i]) for i in sidx)
                            for r in con.sql(spark_rel).fetchall()), key=repr)
            drows = sorted((tuple(_canon(r[i]) for i in didx)
                            for r in con.sql(sql).fetchall()), key=repr)
            if len(srows) != len(drows):
                out[name] = "%d rows, oracle %d" % (len(srows), len(drows))
                continue
            bad = [(a, b) for a, b in zip(srows, drows) if a != b]
            out[name] = ("%d rows differ; first: %s vs oracle %s" % (len(bad), bad[0][0], bad[0][1])
                         if bad else None)
        except Exception as e:  # a failing oracle query is a failed check
            out[name] = "%s: %s" % (type(e).__name__, str(e)[:300])
    con.close()
    return out
