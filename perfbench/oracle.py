"""Check recorded analytics results against the DuckDB oracle.

`run.py --record` runs the analytics pass twice, writes each query's
fingerprint to perfbench/expected/analytics.tsv, dumps each oracled
query's Spark result as parquet, and calls check() here. A query matches
when its Spark rows equal the oracle SQL's rows as a multiset, columns
aligned by name, floats compared to 9 significant digits. The verdict is
appended to the query's line in the TSV: oracle=match, oracle=none (the
query declares no oracle) or oracle=MISMATCH.
"""
import collections
import datetime
import decimal
import json
import os

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def norm(v):
    if isinstance(v, float):
        return float(f"{v:.9g}") if v == v else "nan"
    if isinstance(v, decimal.Decimal):
        return norm(float(v))
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((norm(k), norm(x)) for k, x in v.items()))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, bool):
        return int(v)
    return v


def rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            collections.Counter(tuple(norm(r[i]) for i in order) for r in cur.fetchall()))


def check(dump_dir, tsv_path):
    """Annotate the TSV; return the names whose results disagree."""
    fixture = open(os.path.join(dump_dir, "fixture")).read().strip()
    oracle = json.load(open(os.path.join(dump_dir, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fixture}/{t}.parquet/*.parquet')")
    verdict = {}
    for name, sql in oracle.items():
        want_cols, want = rows(con, sql)
        got_cols, got = rows(con, f"SELECT * FROM read_parquet('{dump_dir}/{name}/*.parquet')")
        verdict[name] = "match" if (want_cols, want) == (got_cols, got) else "MISMATCH"
    lines = []
    for line in open(tsv_path).read().splitlines():
        name = line.split("\t")[0]
        lines.append(f"{line}\toracle={verdict.get(name, 'none')}")
    with open(tsv_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return sorted(n for n, v in verdict.items() if v != "match")
