#!/usr/bin/env python3
"""Regenerate perfbench/expected/hashes.tsv, the expected result hashes.

    python3 perfbench/make_expected.py [--skip-spark]

Runs every query of the query workload's families once in Spark over
perfbench/data/sf0.1, then the oracle SQL (`SparkEntry.oracleSql`) of the
listed queries and the known failures in DuckDB over the same parquet
files, and hashes both in the canonical form of ResultHash.scala. A query
with oracle SQL takes DuckDB's hash; one without takes Spark's (a
regression hash). Queries where Spark and DuckDB disagree
are listed, as are queries Spark could not finish. `--skip-spark` reuses
the Spark side of the previous run.
"""
import datetime
import decimal
import hashlib
import json
import os
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CTX = decimal.Context(prec=500)
NINE = decimal.Decimal("1e-9")
EPOCH = datetime.datetime(1970, 1, 1)


def canon_decimal(d):
    q = d.quantize(NINE, rounding=decimal.ROUND_HALF_EVEN, context=CTX)
    return "0" if q == 0 else format(q.normalize(CTX), "f")


def canon(v):
    """Canonical text of one value, as ResultHash.canon renders it."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v in (float("inf"), float("-inf")):
            return "Infinity" if v > 0 else "-Infinity"
        return canon_decimal(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return canon_decimal(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return str((v - EPOCH.date()).days)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "(" + ",".join(canon(x) for x in v.values()) + ")"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def result_hash(cols, rows):
    """Order-independent hash: sorted column names | rows | sum of row MD5s."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = 0
    n = 0
    for r in rows:
        s = "\x1f".join(canon(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")
        n += 1
    return f"{','.join(sorted(cols))}|{n}|{total % (1 << 64):016x}"


def listed(name):
    """Query names of perfbench/queries/<name>.txt."""
    lines = (run.BENCH / "queries" / f"{name}.txt").read_text()
    return [x.strip() for x in lines.splitlines()
            if x.strip() and not x.startswith("#")]


def duckdb_hashes(data, oracles, names):
    out = {}
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    for n in names:
        if n not in oracles:
            continue
        print(f"duckdb {n}", file=sys.stderr, flush=True)
        try:
            cur = con.execute(oracles[n])
            cols = [d[0] for d in cur.description]
            out[n] = result_hash(cols, cur.fetchall())
        except Exception as e:  # report, keep going
            print(f"duckdb failed on {n}: {str(e)[:200]}", file=sys.stderr)
    return out


def main():
    work = run.ROOT / ".bench_build" / "perfbench-expected"
    if "--skip-spark" not in sys.argv:
        run.run_workload(run.build(), "query_mix", 0, 0, False,
                         extra=["--expected", ",".join(run.QUERY_WORKLOADS)],
                         work=work, want_result=False)
    spark = {}
    for line in (work / "spark_hashes.tsv").read_text().splitlines():
        name, status, wall, h = line.split("\t")
        spark[name] = (status, float(wall), h)
    oracles = json.loads((work / "oracle_sql.json").read_text())
    names = sorted({n for w in run.QUERY_WORKLOADS + ["known_failures"]
                    for n in listed(w)})
    duck = duckdb_hashes(run.BENCH / "data" / "sf0.1", oracles, names)
    rows = []
    for n in names:
        status, wall, h = spark[n]
        if n in duck:
            if status == "ok" and h != duck[n]:
                print(f"MISMATCH {n}: spark {h} duckdb {duck[n]}")
            rows.append((n, duck[n], "duckdb", status, wall))
        elif status == "ok":
            rows.append((n, h, "spark", status, wall))
        else:
            print(f"NO EXPECTED HASH {n}: {status}")
    out = run.BENCH / "expected" / "hashes.tsv"
    out.parent.mkdir(exist_ok=True)
    with open(out, "w") as f:
        f.write("# query\thash\tsource\tspark status when generated\t"
                "spark wall s when generated\n")
        for n, h, src, status, wall in rows:
            f.write(f"{n}\t{h}\t{src}\t{status}\t{wall:.3f}\n")
    print(f"wrote {len(rows)} expected hashes to {out}")


if __name__ == "__main__":
    main()
