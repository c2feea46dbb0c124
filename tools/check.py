#!/usr/bin/env python3
"""Local pre-validation of SparkEntry oracles (mimics the driver's t2 gate).

Usage: python3 tools/check.py [sfdir] [outdir] [--skip-spark]
                              [--against OTHER/oracle_sql.json] [names...]

1. Runs graft.Verify via sbt at sfdir (default sf0.01) -> outdir parquet dumps.
2. Registers the corpus parquet as DuckDB views, runs each oracle_sql entry.
3. Compares Spark parquet vs DuckDB result: columns sorted by name, rows
   compared in order and as sorted multisets; exact match required (this is
   stricter than any plausible driver compare).

--against compares oracles with oracles instead, and runs no Spark: every
oracle string in outdir/oracle_sql.json that differs from OTHER's once
whitespace is collapsed runs in DuckDB next to OTHER's string on the same
sfdir, and prints `same <name>` or `FAIL <name>: <why>`. Dump the oracles
of a build without running its queries with
`sbt "runMain graft.Verify <sfdir> <outdir> __none__"`.
"""
import json, re, subprocess, sys, math
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 and represent with enough digits
        if v == 0:
            return "0"
        return repr(round(v, 9))
    return str(v)


def dtype_err(name, spark_df, duck_df):
    """The driver compares via pandas fetchdf(), which is dtype-sensitive:
    DuckDB HUGEINT aggregates surface as float64/object while Spark writes
    int64, and array columns are unsortable. Catch both locally."""
    # Driver evidence (round 1): int32 vs int64 hash-matches, int64 vs
    # float64 does not — compare dtype KIND, not width.
    def kind(dt):
        return dt.kind if dt.kind not in ("i", "u") else "i"
    sd = {c: kind(spark_df[c].dtype) for c in spark_df.columns}
    dd = {c: kind(duck_df[c].dtype) for c in duck_df.columns}
    diffs = [f"{c}: spark={spark_df[c].dtype} duck={duck_df[c].dtype}"
             for c in sd if c in dd and sd[c] != dd[c]]
    if diffs:
        return "DTYPE mismatch: " + "; ".join(diffs)
    import numpy as np
    for df, side in ((spark_df, "spark"), (duck_df, "duck")):
        for c in df.columns:
            if df[c].dtype == object and len(df):
                # scan ALL rows: a NULL in row 0 must not mask nested
                # cells further down
                nested = df[c].map(lambda v: isinstance(
                    v, (np.ndarray, list, dict, set, tuple)))
                if nested.any():
                    t = type(df[c][nested.idxmax()]).__name__
                    return (f"UNSORTABLE column {c} ({side}): {t} — the "
                            "driver's pandas sort_values will crash on this")
    return None


def compare(name, spark_rows, duck_rows, spark_cols, duck_cols):
    if sorted(spark_cols) != sorted(duck_cols):
        return f"SCHEMA mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return f"ROWCOUNT mismatch: spark={len(spark_rows)} duck={len(duck_rows)}"
    order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    dorder = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    s = [tuple(norm(r[i]) for i in order) for r in spark_rows]
    d = [tuple(norm(r[i]) for i in dorder) for r in duck_rows]
    if s == d:
        return None
    if sorted(s) == sorted(d):
        return "ORDER-ONLY mismatch (values equal as multisets)"
    # find first diff
    for i, (a, b) in enumerate(zip(sorted(s), sorted(d))):
        if a != b:
            return f"VALUE mismatch at sorted-row {i}:\n  spark={a}\n  duck ={b}"
    return "VALUE mismatch (unlocated)"


def connect(sfdir):
    c = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if Path(p).exists():
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return c


def collapse(sql):
    return re.sub(r"\s+", " ", sql).strip()


def against(con, oracles, other, only=()):
    """Runs each oracle whose string differs from `other`'s (whitespace
    collapsed) next to `other`'s string on `con`; returns (same, failed)."""
    n_same = n_bad = 0
    for name in sorted(oracles):
        if (only and name not in only) or name not in other \
                or collapse(oracles[name]) == collapse(other[name]):
            continue
        try:
            res = [con.execute(sql).fetchdf() for sql in
                   (oracles[name], other[name])]
            err = compare(name, *[list(df.itertuples(index=False, name=None))
                                  for df in res],
                          *[list(df.columns) for df in res])
        except Exception as e:
            err = str(e)[:300]
        if err:
            print(f"FAIL {name}: {err}")
            n_bad += 1
        else:
            print(f"same {name}")
            n_same += 1
    return n_same, n_bad


def main():
    argv = sys.argv[1:]
    other = None
    if "--against" in argv:
        i = argv.index("--against")
        other = json.loads(Path(argv[i + 1]).read_text())
        argv = argv[:i] + argv[i + 2:]
    args = [a for a in argv if not a.startswith("--")]
    sfdir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    outdir = args[1] if len(args) > 1 else "/tmp/verify_out"
    only = set(args[2:])
    if other is not None:
        oracles = json.loads(Path(f"{outdir}/oracle_sql.json").read_text())
        n_same, n_bad = against(connect(sfdir), oracles, other, only)
        print(f"\n{n_same} same, {n_bad} failed")
        sys.exit(1 if n_bad else 0)
    if "--skip-spark" not in argv:
        names = " " + ",".join(sorted(only)) if only else ""
        r = subprocess.run(
            ["sbt", "-batch", f'runMain graft.Verify {sfdir} {outdir}{names}'],
            cwd="/root/repo", capture_output=True, text=True)
        tail = "\n".join((r.stdout + r.stderr).splitlines()[-25:])
        if r.returncode != 0:
            print("VERIFY FAILED:\n", tail)
            sys.exit(1)
        if "[verify]" in r.stdout + r.stderr:
            print("verify warnings:")
            for line in (r.stdout + r.stderr).splitlines():
                if "[verify]" in line:
                    print(" ", line)

    oracles = json.loads(Path(f"{outdir}/oracle_sql.json").read_text())
    con = connect(sfdir)

    n_ok = n_bad = 0
    for name in sorted(oracles):
        if only and name not in only:
            continue
        sql = oracles[name]
        spark_dir = Path(outdir) / name
        if not spark_dir.exists():
            print(f"FAIL {name}: no spark output")
            n_bad += 1
            continue
        try:
            spark_df = con.execute(
                f"SELECT * FROM parquet_scan('{spark_dir}/*.parquet')").fetchdf()
            spark_cols = list(spark_df.columns)
            spark_rows = list(spark_df.itertuples(index=False, name=None))
            duck_df = con.execute(sql).fetchdf()
            duck_cols = list(duck_df.columns)
            duck_rows = list(duck_df.itertuples(index=False, name=None))
        except Exception as e:
            print(f"FAIL {name}: {str(e)[:300]}")
            n_bad += 1
            con = connect(sfdir)  # a fatal duckdb error invalidates the connection
            continue
        err = compare(name, spark_rows, duck_rows, spark_cols, duck_cols) \
            or dtype_err(name, spark_df, duck_df)
        if err:
            print(f"FAIL {name}: {err}")
            n_bad += 1
        else:
            print(f"ok   {name} ({len(spark_rows)} rows)")
            n_ok += 1
    # queries with no oracle -> rows-only
    outnames = {p.name for p in Path(outdir).iterdir() if p.is_dir()}
    for name in sorted(outnames - set(oracles)):
        if only and name not in only:
            continue
        n = con.execute(
            f"SELECT count(*) FROM parquet_scan('{outdir}/{name}/*.parquet')"
        ).fetchone()[0]
        print(f"rows-only {name}: {n} rows")
    print(f"\n{n_ok} ok, {n_bad} failed")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
