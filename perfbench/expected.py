#!/usr/bin/env python3
"""DuckDB's expected results for the benchmark, made anew:

    python3 perfbench/expected.py

runs the exact JOB SQL text the harness runs and the registry's oracle SQL
(`SparkEntry.oracleSql`) in DuckDB over the same parquet files, and writes
the canonical results that every benchmark run compares with. `run.py` calls
the same code whenever the SQL, the data or this file changed.

The canonical form is the one the harness computes in Canon.scala, after
tools/oracle_compare.py: columns in name order, each row a compact JSON
array, floats rounded to 12 significant digits, bytes hexed, rows sorted,
then the SHA-256 of the rows joined by newlines.
"""
import datetime
import decimal
import hashlib
import json
import math
import sys
import uuid

IMDB_TABLES = ["title", "movie_companies", "movie_info", "movie_info_idx", "movie_keyword",
               "cast_info", "complete_cast", "comp_cast_type", "company_name", "company_type",
               "info_type", "keyword", "kind_type", "link_type", "movie_link", "name",
               "aka_name", "aka_title", "person_info", "char_name", "role_type"]
REGISTRY_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
                   "events", "documents", "embeddings"]


def number(d):
    if d == 0:
        return "0"
    return format(d.normalize(), "f")


def value(v):
    """One value in canonical form: a string, None, or a list."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        return number(decimal.Decimal(f"{v:.12g}"))
    if isinstance(v, decimal.Decimal):
        return number(v)
    if isinstance(v, str):
        return v
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [value(x) for x in v]
    if isinstance(v, dict):
        return [value(x) for x in v.values()]
    if isinstance(v, uuid.UUID):
        return str(v)
    return str(v)


def canonical(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(json.dumps([value(r[i]) for i in order], ensure_ascii=True,
                              separators=(",", ":")) for r in rows)
    digest = hashlib.sha256("\n".join(lines).encode("ascii")).hexdigest()
    return {"cols": sorted(cols), "rows": len(rows), "digest": digest}


def all_null(rows):
    return len(rows) == 1 and all(v is None for v in rows[0])


def source(path):
    """A DuckDB table expression for one parquet table: a file, or the
    directory of part files Spark writes."""
    return f"'{path}/*.parquet'" if path.is_dir() else f"'{path}'"


def results(data_dir, entries, kind):
    """{name: canonical result} of each SQL text in `entries` over the
    parquet tables of `data_dir`."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in (IMDB_TABLES if kind == "job" else REGISTRY_TABLES):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {source(data_dir / f'{t}.parquet')}")
    out = {}
    for name, sql in sorted(entries.items()):
        rel = con.sql(sql)
        rows = rel.fetchall()
        out[name] = canonical(list(rel.columns), rows)
        if kind == "job":
            out[name]["all_null"] = all_null(rows)
    con.close()
    return out


def main():
    import run
    run.STATE.mkdir(parents=True, exist_ok=True)
    try:
        sqls = run.sql_dump(run.build())
        for kind in ("job", "registry"):
            res = run.expected_for(kind, run.inputs(kind), sqls, force=True)
            nulls = sum(1 for r in res.values() if r.get("all_null"))
            extra = f", {nulls} all-NULL" if kind == "job" else ""
            print(f"[expected] {kind}: {len(res)} results{extra} -> "
                  f"{run.STATE / f'expected_{kind}.json'}")
    except run.BenchError as e:
        print(f"[expected] {e}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
