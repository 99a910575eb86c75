#!/usr/bin/env python3
"""Cross-check the stored query fingerprints against the DuckDB oracle.

For every query in fingerprints.json that has oracle SQL, run the SQL in
DuckDB on the benchmark's own catalog at that query's scale and fingerprint
the result with the same canonical row form as harness/Fingerprint.scala.
Prints one line per query and a summary; exits 1 if any query disagrees.
A query DuckDB cannot finish within the time limit is reported unchecked.

Usage (after run.py has generated the catalogs once):
    python3 perfbench/oracle_xcheck.py [LIMIT_SECONDS]
"""
import sys

sys.dont_write_bytecode = True

import datetime  # noqa: E402
import decimal  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import threading  # noqa: E402
import time  # noqa: E402
from pathlib import Path  # noqa: E402

import duckdb  # noqa: E402

HERE = Path(__file__).resolve().parent
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CTX = decimal.Context(prec=9, rounding=decimal.ROUND_HALF_EVEN)
EPOCH = datetime.datetime(1970, 1, 1)


def dec(d):
    return "0" if d.is_zero() else str(d.normalize(CTX))


def num(x):
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "Inf" if x > 0 else "-Inf"
    return "0" if x == 0 else dec(decimal.Decimal(x))


def micros(t):
    if t.tzinfo is not None:
        t = t.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    d = t - EPOCH
    return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return num(v)
    if isinstance(v, decimal.Decimal):
        return dec(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        return f"t{micros(v)}"
    if isinstance(v, datetime.date):
        return f"d{(v - EPOCH.date()).days}"
    if isinstance(v, dict):
        return "{" + "\u001e".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + "\u001e".join(canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = 0
    for r in rows:
        text = "\u001f".join(canon(r[i]) for i in order)
        h += int.from_bytes(hashlib.md5(text.encode()).digest()[:8], "big")
    return f"{len(rows)}:{h % (1 << 64):016x}"


def check(con, rec, limit, counts):
    for q, sql in sorted(rec["oracle_sql"].items()):
        want = rec["fingerprints"].get(q)
        t0 = time.time()
        timer = threading.Timer(limit, con.interrupt)
        timer.start()
        try:
            res = con.sql(sql)
            got = fingerprint(res.columns, res.fetchall())
            status = "OK" if got == want else "DIFF"
        except duckdb.InterruptException:
            got, status = "-", "UNCHECKED"
        finally:
            timer.cancel()
        counts[status] += 1
        print(f"{status:9} {q} spark={want} duckdb={got} "
              f"({time.time() - t0:.1f}s)", flush=True)


def main():
    limit = float(sys.argv[1]) if len(sys.argv) > 1 else 300.0
    counts = {"OK": 0, "DIFF": 0, "UNCHECKED": 0}
    for scale, rec in sorted(json.loads((HERE / "fingerprints.json").read_text()).items()):
        found = sorted((HERE.parent / ".bench_build").glob(f"tables-{scale}-*"))
        if not found:
            sys.exit(f"no {scale} catalog; run perfbench/run.py once first")
        print(f"# {scale}: {found[-1].name}", flush=True)
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{found[-1]}/{t}.parquet'")
        check(con, rec, limit, counts)
    print(" ".join(f"{k}={v}" for k, v in counts.items()))
    return 1 if counts["DIFF"] else 0


if __name__ == "__main__":
    sys.exit(main())
