"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf tier, then compares row count + column names +
an order-insensitive value hash (columns sorted by name, rows sorted by
their stringified form, floats normalized).

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


# STRICT_FLOATS=1: hash floats at FULL precision (repr) instead of 6
# significant digits — the driver's hash protocol is tighter than 6g
# (five r5 queries matched at 6g and hashed red), so bit-exact parity
# is the only normalization-proof contract. Default stays 6g so the
# historical green baseline keeps its meaning.
STRICT_FLOATS = os.environ.get("STRICT_FLOATS", "") == "1"


def norm_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v) if STRICT_FLOATS else f"{v:.6g}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return norm_cell(float(v))
    except Exception:
        pass
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main() -> int:
    import json
    import time

    args = [a for a in sys.argv[1:] if not a.startswith("--json")]
    json_out = next((a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--json=")), None)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    results: dict[str, dict] = {}

    import __spark_entry__ as entrymod
    from zparse_spark.session import get_spark

    spark = get_spark(app_name="oracle_check", master="local[8]", shuffle_partitions=8)

    def _connect():
        c = duckdb.connect()
        # explicit modest budget: this sandbox runs with a 63 GB commit
        # limit and no swap, and DuckDB's default limit (80% of the
        # 125 GB RAM) lets its buffer reservations race the 16 GB Spark
        # driver JVM over CommitLimit — observed as "Failed to allocate
        # block of 4096 bytes" ~70 heavy queries into a full-registry
        # run while `free` showed 120 GB unused
        c.execute("SET memory_limit='12GB'")
        c.execute("SET threads TO 8")
        for t in TABLES:
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return c

    con = _connect()
    n_since_connect = 0

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        spark_s = round(time.perf_counter() - t0, 3)
        if name not in oracles:
            print(f"  {name:40s} rows={len(srows):7d}  (rows-only, no oracle)")
            results[name] = {"rows": len(srows), "oracle": False, "spark_sec": spark_s}
            continue
        # a single long-lived connection accumulates allocator state
        # across hundreds of heavy CTE queries and can hit DuckDB's
        # memory limit with a tiny allocation (observed at query ~70 of
        # a 262-query run); reconnecting is cheap (views only) and
        # resets the arena — done proactively every 40 queries and
        # reactively once on an OOM
        if n_since_connect >= 40:
            con.close()
            con = _connect()
            n_since_connect = 0
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except duckdb.OutOfMemoryException:
            con.close()
            con = _connect()
            n_since_connect = 0
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        n_since_connect += 1
        ok_cols = sorted(scols) == sorted(ocols)
        ok_rows = len(srows) == len(orows)
        sh, oh = value_hash(scols, srows), value_hash(ocols, orows)
        ok_hash = sh == oh
        status = "OK " if (ok_cols and ok_rows and ok_hash) else "FAIL"
        print(
            f"  {name:40s} {status} rows={len(srows)}/{len(orows)}"
            f" cols={'=' if ok_cols else scols} hash={'=' if ok_hash else f'{sh}!={oh}'}"
            f" [{spark_s}s]"
        )
        results[name] = {
            "rows_match": ok_rows, "schema_match": ok_cols, "hash_match": ok_hash,
            "spark_rows": len(srows), "oracle_rows": len(orows), "spark_sec": spark_s,
        }
        if status == "FAIL":
            failures.append(name)
            if not ok_hash and ok_cols and ok_rows:
                # print a small diff sample
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                a = sorted("|".join(norm_cell(r[i]) for i in order_s) for r in srows)
                b = sorted("|".join(norm_cell(r[i]) for i in order_o) for r in orows)
                for x, y in list(zip(a, b))[:200]:
                    if x != y:
                        print(f"     spark: {x}\n     duck : {y}")
                        break
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nall OK")
    if json_out:
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "n": len(results), "failures": failures,
                       "queries": results}, f, indent=1)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
