"""DuckDB oracle compare for the query workloads.

Each query's Spark result (parquet) is compared with its oracle SQL run by
DuckDB over the same tables, value- and type-strict: column names, column
types (up to the integer/float widenings a value hash cannot see; HUGEINT
on the oracle side is always a mismatch) and row-ordered values, exactly.
"""
import glob
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

BENIGN = {frozenset(p) for p in [
    ("TINYINT", "BIGINT"), ("SMALLINT", "BIGINT"), ("INTEGER", "BIGINT"),
    ("TINYINT", "INTEGER"), ("SMALLINT", "INTEGER"), ("FLOAT", "DOUBLE")]}


def connect(data_dir, temp_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    return con


def _canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _types(con, sql):
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE ({sql})").fetchall()}


def _rows(con, sql):
    rows = con.execute(sql).fetchall()
    cols = [d[0] for d in con.description]
    perm = [cols.index(c) for c in sorted(cols)]
    return sorted(cols), [tuple(_canon(r[i]) for i in perm) for r in rows]


def compare_sql(con, spark_sql, oracle_sql):
    """Problems found comparing two result queries; empty means equal."""
    mine_t, ref_t = _types(con, spark_sql), _types(con, oracle_sql)
    mine_c, mine = _rows(con, spark_sql)
    ref_c, ref = _rows(con, oracle_sql)
    if mine_c != ref_c:
        return [f"columns {mine_c} vs oracle {ref_c}"]
    problems = []
    for c in ref_c:
        a, b = mine_t[c], ref_t[c]
        if "HUGEINT" in b or (a != b and frozenset({a.split("(")[0], b.split("(")[0]}) not in BENIGN):
            problems.append(f"column {c}: type {a} vs oracle {b}")
    if len(mine) != len(ref):
        problems.append(f"{len(mine)} rows vs oracle {len(ref)}")
    else:
        bad = [i for i, (a, b) in enumerate(zip(mine, ref)) if a != b]
        if bad:
            i = bad[0]
            problems.append(f"{len(bad)}/{len(mine)} rows differ; first at {i}: "
                            f"{mine[i]!r} vs oracle {ref[i]!r}"[:400])
    return problems


def compare(con, result_dir, oracle_sql):
    """Problems for one query whose Spark result is parquet in result_dir."""
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return ["no Spark result"]
    try:
        return compare_sql(con, f"SELECT * FROM read_parquet({files!r})", oracle_sql)
    except duckdb.Error as e:
        return [f"compare failed: {str(e)[:300]}"]
