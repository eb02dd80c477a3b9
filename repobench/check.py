"""Correctness checks behind ``ok_frac``, made outside the timed loop.

Query results are compared with each query's DuckDB oracle over the same
generated tables: column names, column types, row count and content as a
multiset. The lake is read back and compared with the rows the generator
expects, so malformed lines and re-sent articles must be absent.
"""
import collections
import os

import duckdb

from gen import TABLES


def check_queries(data_dir, results_dir, warm):
    """{query name: error text or None} for the warm pass's results.

    ``warm`` is the harness's list of {name, ok, error, oracle}; a query
    that threw in the warm pass keeps its error.
    """
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for w in warm:
        name = w["name"]
        if not w["ok"]:
            out[name] = f"threw: {w['error']}"
        elif not w["oracle"]:
            out[name] = "no oracle"
        else:
            try:
                out[name] = _compare(con, os.path.join(results_dir, name), w["oracle"])
            except duckdb.Error as e:
                out[name] = f"oracle error: {e}"
    con.close()
    return out


def _compare(con, result_dir, oracle):
    con.execute(f"CREATE OR REPLACE TEMP VIEW s AS SELECT * FROM read_parquet('{result_dir}/*.parquet')")
    con.execute(f"CREATE OR REPLACE TEMP VIEW o AS {oracle}")
    s, o = con.sql("SELECT * FROM s"), con.sql("SELECT * FROM o")
    st = dict(zip(s.columns, map(str, s.types)))
    ot = dict(zip(o.columns, map(str, o.types)))
    if sorted(st) != sorted(ot):
        return f"columns {sorted(st)} != oracle {sorted(ot)}"
    if st != ot:
        return f"types {st} != oracle {ot}"
    cols = ", ".join(f'"{c}"' for c in sorted(st))
    ns = con.sql("SELECT count(*) FROM s").fetchone()[0]
    no = con.sql("SELECT count(*) FROM o").fetchone()[0]
    if ns != no:
        return f"{ns} rows != oracle {no}"
    extra = con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM s EXCEPT ALL "
                    f"SELECT {cols} FROM o)").fetchone()[0]
    return f"{extra} rows differ from the oracle" if extra else None


def check_lake(lake_dir, expected):
    """Error text, or None when the news lake holds exactly ``expected``."""
    got = duckdb.sql("SELECT symbol, news_id, CAST(epoch(published_ts) AS BIGINT), headline "
                     f"FROM read_parquet('{lake_dir}/**/*.parquet', hive_partitioning = true)"
                     ).fetchall()
    missing = collections.Counter(expected) - collections.Counter(got)
    extra = collections.Counter(got) - collections.Counter(expected)
    if missing or extra:
        return (f"lake has {len(got)} rows, expected {len(expected)}: "
                f"{sum(missing.values())} missing, {sum(extra.values())} unexpected")
    return None


def result_rows(results_dir, names):
    """{query name: rows in its warm-pass result} for results that exist."""
    return {n: duckdb.sql(f"SELECT count(*) FROM read_parquet('{results_dir}/{n}/*.parquet')")
            .fetchone()[0]
            for n in names if os.path.isdir(os.path.join(results_dir, n))}
