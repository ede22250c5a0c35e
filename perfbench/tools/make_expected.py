#!/usr/bin/env python3
"""Build perfbench/data/catalog_core.tsv, the catalog_core workload's
query list with its expected results.

Usage:
  python3 perfbench/tools/make_expected.py <survey.tsv> <sfDir> <out.tsv>

<survey.tsv> is the output of `perfbench.CatalogSurvey <sfDir> <query...>`
run over every catalog query that took under 1 s in
docs/BENCH_FULL_r18.json (run it with the classpath that run.py's build
writes to .bench_build/classpath.txt and the JVM flags run.py passes). The workload keeps the queries that wrote no
store, sorted by name, and takes every STRIDE-th of them. A pick whose
oracle reads a file by an absolute path (the invoice fixture under the
repository's fixtures/) reads outside the sfDir tables, which the
benchmark cannot do from its own checkout: the next query by name that
reads only the sfDir tables takes its place. For a query
with a DuckDB oracle the expected row count and hash come from the
oracle, run as scripts/compare.py runs it (the sfDir tables registered
as views); for a query without one, the expected row count is the
engine's own and only the count is checked. The hash is
perfbench.Fingerprint's: each row's values canonicalised by canon(),
columns sorted by name, the first 8 bytes of the row's MD5 summed
modulo 2^64. A query whose engine result differs from its oracle is
reported, and its oracle values are still written.
"""
import datetime
import decimal
import hashlib
import json
import math
import re
import struct
import sys

import duckdb

STRIDE = 10
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)
# a quoted absolute path in an oracle, as in read_json('/...')
OUTSIDE = re.compile(r"'/[^']*'")


def canon(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            bits = 0x7FF8000000000000
        else:
            bits = struct.unpack(">Q", struct.pack(">d", 0.0 if v == 0.0 else v))[0]
        return format(bits, "x")
    if isinstance(v, decimal.Decimal):
        return "0" if v == 0 else format(v.normalize(), "f")
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def fingerprint(con, sql):
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall()]
    sel = ", ".join(f'"{c}"' for c in sorted(cols))
    rows = con.execute(f"SELECT {sel} FROM ({sql})").fetchall()
    h = 0
    for r in rows:
        digest = hashlib.md5("\u0001".join(canon(x) for x in r).encode("utf-8")).digest()
        h = (h + int.from_bytes(digest[:8], "big")) % (1 << 64)
    return len(rows), str(h)


def main(survey, sf_dir, out):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    rows = []
    for line in open(survey):
        f = line.rstrip("\n").split("\t")
        if f[0] != "survey":
            continue
        _, name, wrote, n, h, secs, oracle = f
        if wrote == "false":
            rows.append((name, int(n), h, json.loads(oracle)))
    rows.sort()
    picked = []
    for i in range(0, len(rows), STRIDE):
        pick = next((r for r in rows[i:] if not (r[3] and OUTSIDE.search(r[3]))), None)
        if pick is not None and pick not in picked:
            if pick is not rows[i]:
                print(f"{rows[i][0]} reads outside {sf_dir}: {pick[0]} replaces it")
            picked.append(pick)
    lines = [f"# catalog_core: every {STRIDE}th of the {len(rows)} store-free catalog queries "
             "under 1 s in docs/BENCH_FULL_r18.json, by name; a pick that reads a file "
             "outside the sf tables gives way to the next query that does not",
             "# name<TAB>expected rows<TAB>expected hash (- = no oracle: rows only)"]
    bad = 0
    for name, n, h, oracle in picked:
        if oracle is None:
            lines.append(f"{name}\t{n}\t-")
            continue
        on, oh = fingerprint(con, oracle)
        if (on, oh) != (n, h):
            bad += 1
            print(f"MISMATCH {name}: engine {n} rows {h}, oracle {on} rows {oh}")
        lines.append(f"{name}\t{on}\t{oh}")
    open(out, "w").write("\n".join(lines) + "\n")
    print(f"{len(picked)} queries written to {out}, {bad} engine/oracle mismatches")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
