"""Expected result fingerprints from the DuckDB oracle.

Runs each query's oracle SQL (`SparkEntry.oracleSql`, dumped as JSON by
`perfbench.QueryMix --oracle-sql`) over a fixture directory and writes
`<name>\\t<fingerprint>` lines. The fingerprint is the one
`perfbench/src/main/scala/perfbench/Fingerprint.scala` computes over the
Spark result; the canonical forms are documented there.

    python3 perfbench/oracle.py <fixture dir> <oracle_sql.json> <out.tsv> [name ...]
"""
import datetime as dt
import decimal
import hashlib
import json
import math
import struct
import sys
import uuid

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = dt.datetime(1970, 1, 1)


def canon(v):
    if v is None:
        return "n"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "fnan"
        if v == 0.0:
            return "f0"
        return "f" + struct.pack(">d", v).hex()
    if isinstance(v, decimal.Decimal):
        return "d" + format(v, "f")
    if isinstance(v, str):
        return f"s{len(v.encode('utf-8'))}:{v}"
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return f"t{(d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds}"
    if isinstance(v, dt.date):
        return f"D{(v - EPOCH.date()).days}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, uuid.UUID):
        return f"s36:{v}"
    if isinstance(v, dict):
        if set(v.keys()) == {"key", "value"} and isinstance(v["key"], list):
            entries = sorted(f"{canon(k)}={canon(x)}".encode("utf-8")
                             for k, x in zip(v["key"], v["value"]))
            return "m{" + ",".join(e.decode("utf-8") for e in entries) + "}"
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    raise TypeError(f"no canonical form for {type(v).__name__}")


def fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        line = "|".join(canon(r[i]) for i in order)
        total = (total + int.from_bytes(hashlib.sha256(line.encode("utf-8")).digest()[:8], "big")) % (1 << 64)
        n += 1
    names = hashlib.sha256(",".join(columns[i] for i in order).encode("utf-8")).hexdigest()[:8]
    return f"{names}:{n}:{total:016x}"


def connect(fixture_dir):
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
    return con


def expected(fixture_dir, oracle_sql, names):
    con = connect(fixture_dir)
    out = {}
    for name in names:
        rel = con.sql(oracle_sql[name])
        out[name] = fingerprint(rel.columns, rel.fetchall())
    return out


if __name__ == "__main__":
    fixture_dir, sql_path, out_path = sys.argv[1:4]
    sql = json.load(open(sql_path))
    names = sys.argv[4:] or sorted(sql)
    with open(out_path, "w") as f:
        for k, v in expected(fixture_dir, sql, names).items():
            f.write(f"{k}\t{v}\n")
