#!/usr/bin/env python3
"""Derives the suite's expected results from the DuckDB oracle, once.

For every driver-contract query it runs the query's oracle SQL
(`SparkEntry.oracleSql`, dumped by the benchmark JVM) in DuckDB over the
bundled sf0.001 tables, normalizes the result as the repo's gate does
(columns sorted by name, rows sorted) and writes its row count and content
digest to suite_sf0.001.tsv. The engine is not involved: the suite workload
checks the engine's results against these values.

    python3 perfbench/expected/derive.py

The digest must match graftbench.Digest: floats rounded half-even to 8
significant digits on the exact binary value, written as <unscaled>e<exp>.
"""
import datetime
import decimal
import hashlib
import json
import shutil
import subprocess
import sys
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
import build  # noqa: E402
import run  # noqa: E402

CTX = decimal.Context(prec=8, rounding=decimal.ROUND_HALF_EVEN)
EPOCH = datetime.datetime(1970, 1, 1)


def fmt_float(x):
    if x != x:
        return "fnan"
    if x in (float("inf"), float("-inf")):
        return "finf" if x > 0 else "f-inf"
    sign, digits, exp = CTX.plus(decimal.Decimal(x)).normalize(CTX).as_tuple()
    unscaled = int("".join(map(str, digits))) * (-1 if sign else 1)
    return f"f{unscaled}e{exp if unscaled else 0}"


def canon(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        return fmt_float(v)
    if isinstance(v, decimal.Decimal):
        return fmt_float(float(v))
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        td = v - EPOCH
        return f"t{(td.days * 86400 + td.seconds) * 1000000 + td.microseconds}"
    if isinstance(v, datetime.date):
        return "d" + v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return "?" + type(v).__name__


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    text = "\n".join(["\x1f".join(columns[i] for i in order)] + lines)
    return len(rows), hashlib.sha256(text.encode("utf-8")).hexdigest()


def oracle_sql():
    classes, jars = build.build()
    scratch = build.BUILD_DIR / "derive"
    shutil.rmtree(scratch, ignore_errors=True)
    (scratch / "tmp").mkdir(parents=True)
    out = scratch / "oracle_sql.json"
    subprocess.run(run.java_cmd(classes, jars, scratch, ["--dump-oracle", str(out)]),
                   check=True, stdout=sys.stderr)
    sql = json.loads(out.read_text())
    shutil.rmtree(scratch, ignore_errors=True)
    return sql


def main():
    con = duckdb.connect()
    for p in sorted(run.DATA.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    lines = ["# query\trows\tsha256 — DuckDB oracle over perfbench/data/sf0.001 (derive.py)"]
    for name, sql in sorted(oracle_sql().items()):
        cur = con.execute(sql)
        columns = [d[0] for d in cur.description]
        n, sha = digest(columns, cur.fetchall())
        lines.append(f"{name}\t{n}\t{sha}")
    run.EXPECTED.write_text("\n".join(lines) + "\n")
    print(f"wrote {len(lines) - 1} queries to {run.EXPECTED.relative_to(build.ROOT)}")


if __name__ == "__main__":
    main()
