#!/usr/bin/env python3
"""Regenerate graftbench/corpus/digests.json, the expected corpus_batch results.

    python3 graftbench/digests.py

Runs the DuckDB oracle SQL (SparkEntry.oracleSql) of every query in the
corpus_batch mix over the parquet tables in graftbench/corpus and writes each
result's order-insensitive digest and row count. The digest is the one
graftbench.Digest computes from the collected Spark rows: columns sorted by
name, doubles as their IEEE bits, timestamps as UTC epoch microseconds,
decimals in plain notation, each row hashed, the sorted row hashes hashed.
"""
import calendar
import datetime as dt
import decimal
import hashlib
import json
import math
import struct
import subprocess
import sys
from pathlib import Path

import duckdb

import run

CORPUS = run.BENCH / "corpus"


def cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return "7ff8000000000000" if math.isnan(v) else format(struct.unpack(">Q", struct.pack(">d", v))[0], "016x")
    if isinstance(v, decimal.Decimal):
        return format(v, "f")
    if isinstance(v, str):
        return v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return str(calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond)
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    raise TypeError(f"no digest form for {type(v).__name__}")


def sha256(s):
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    hashes = sorted(sha256("\u0001".join(cell(r[i]) for i in order)) for r in rows)
    return sha256("\u0001".join(cols[i] for i in order) + "\n" + "\n".join(hashes))


def oracle_sql():
    """The mix's oracle SQL, as the program registers it."""
    opts, cp = run.launch_spec(run.source_hash())
    out = run.TARGET / "oracle_sql.json"
    subprocess.run(["java", *opts, "-cp", ":".join(cp), "graftbench.Main", "--oracle-sql", str(out)],
                   check=True, timeout=300)
    return json.loads(out.read_text())


def main():
    con = duckdb.connect()
    for p in sorted(CORPUS.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    result = {}
    for name, sql in oracle_sql().items():
        rel = con.sql(sql)
        rows = rel.fetchall()
        result[name] = {"digest": digest(rel.columns, rows), "rows": len(rows)}
        print(f"{name}: {len(rows)} rows {result[name]['digest']}")
    (CORPUS / "digests.json").write_text(json.dumps(result, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    sys.exit(main())
