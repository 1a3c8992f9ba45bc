#!/usr/bin/env python3
"""Derive the catalog workload's expected answers from the DuckDB oracle.

    python3 perfbench/derive_expected.py

For every catalog query, runs its oracle SQL (SparkEntry.oracleSql) in
DuckDB over the benchmark's copies of the test tables and writes, per
scale, the row count and one checksum per column to
perfbench/expected/<scale>.json. The checksum's canonical cell text is
the one perfbench/src/main/scala/perfbench/Answers.scala gives a Spark
answer; the comparison rules are those of tools/check_oracle.py (columns
by name, rows in the answer's ORDER BY order, doubles bit-exact). Run it
once when the catalog or the test tables change; the benchmark only reads
the result.
"""
import datetime
import decimal
import hashlib
import json
import os
import struct
import subprocess
import sys

import duckdb
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402  (the benchmark's build helper)

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def dbl(x):
    if x != x:
        return "nan"
    if x == 0.0:
        return "0"
    return struct.pack(">d", x).hex()


def canon(t, v):
    if v is None:
        return "\0"
    if pa.types.is_integer(t):
        return str(v)
    if pa.types.is_decimal(t):
        d = v.normalize()
        return format(d, "f") if d != 0 else "0"
    if pa.types.is_floating(t):
        return dbl(float(v))
    if pa.types.is_boolean(t):
        return "true" if v else "false"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return v
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return v.hex()
    if pa.types.is_timestamp(t):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if pa.types.is_date(t):
        return str((v - datetime.date(1970, 1, 1)).days)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "[" + ",".join(canon(t.value_type, x) for x in v) + "]"
    if pa.types.is_struct(t):
        fields = sorted((t.field(i) for i in range(t.num_fields)), key=lambda f: f.name)
        return "{" + ",".join(f"{f.name}:{canon(f.type, v.get(f.name))}"
                              for f in fields) + "}"
    if pa.types.is_map(t):
        return "<" + ",".join(sorted(f"{canon(t.key_type, k)}={canon(t.item_type, x)}"
                                     for k, x in v)) + ">"
    raise ValueError(f"no canonical form for {t}")


def column_hash(col):
    md = hashlib.sha256()
    for v in col.to_pylist():
        md.update(canon(col.type, v).encode("utf-8"))
        md.update(b"\x1e")
    return md.digest()[:8].hex()


def oracle_sql():
    cp = run.build()
    path = os.path.join(run.OUT, "oracle_sql.json")
    subprocess.run(["java", "-cp", cp, "perfbench.DumpOracle", path], check=True)
    with open(path) as f:
        return json.load(f)


def main():
    sqls = oracle_sql()
    decimal.getcontext().prec = 60
    for scale in ("sf0.01", "sf0.001"):
        d = os.path.join(run.BENCH, "data", scale)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
        out = {}
        for name, sql in sorted(sqls.items()):
            tbl = con.execute(sql).arrow()
            out[name] = {"rows": tbl.num_rows,
                         "cols": {c: column_hash(tbl.column(c)) for c in tbl.column_names}}
        dest = os.path.join(run.BENCH, "expected", f"{scale}.json")
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        with open(dest, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"{scale}: {len(out)} queries -> {os.path.relpath(dest, run.ROOT)}")


if __name__ == "__main__":
    main()
