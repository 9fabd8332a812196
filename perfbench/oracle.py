"""Oracle fingerprints for every query step the benchmark times.

Runs each query's `SparkEntry.oracleSql` in DuckDB over a table directory
and prints, as JSON, one map per dataset of query -> fingerprint. A
fingerprint is the row count plus the wrapping 64-bit sum of an MD5-based
hash per row, where a row is canonicalized as `tools/check.py` compares
it: columns sorted by name, each value in an exact type-tagged form
(doubles by their IEEE bits). `perfbench.Fingerprint` computes the same
fingerprint from the rows Spark returns, so the two must agree
value for value.

The SQL comes from `perfbench.OracleDump`:

    java -cp <classpath> perfbench.OracleDump oracle_sql.json
    python3 perfbench/oracle.py oracle_sql.json sf0.01=perfbench/data/sf0.01 \\
        sf0.01x4=<4x copy made by graft.tools.BlowUp> > perfbench/fingerprints.json
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import struct
import sys

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def canon(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return "i%d" % v
    if isinstance(v, float):
        if math.isnan(v):
            return "fNaN"
        return "f%016x" % struct.unpack(">Q", struct.pack(">d", v))[0]
    if isinstance(v, decimal.Decimal):
        return "d" + format(v, "f")
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t%d" % ((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "D%d" % (v - EPOCH.date()).days
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + "\x1e".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + "\x1e".join(canon(x) for x in v.values()) + "}"
    raise TypeError("no canonical form for %r" % type(v))


def row_hash(values):
    d = hashlib.md5("\x1f".join(values).encode("utf-8")).digest()
    return int.from_bytes(d[:8], "big")


def fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        total = (total + row_hash([canon(r[i]) for i in order])) % (1 << 64)
    return "%d:%016x" % (len(rows), total)


def dataset_fingerprints(table_dir, oracle):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        path = "%s/%s.parquet" % (table_dir, t)
        if os.path.isdir(path):  # a Spark-written copy: one directory of part files
            path += "/*.parquet"
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, path))
    out = {}
    for name, sql in sorted(oracle.items()):
        rel = con.sql(sql)
        out[name] = fingerprint(list(rel.columns), rel.fetchall())
    return out


def main(argv):
    oracle = json.load(open(argv[0]))
    result = {}
    for spec in argv[1:]:
        key, table_dir = spec.split("=", 1)
        result[key] = dataset_fingerprints(table_dir, oracle)
    json.dump(result, sys.stdout, indent=1, sort_keys=True)
    print()


if __name__ == "__main__":
    main(sys.argv[1:])
