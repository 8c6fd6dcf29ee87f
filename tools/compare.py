#!/usr/bin/env python3
"""Dev-only mimic of the driver's DuckDB oracle check.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir>
Reads each <out>/<name> parquet written by graft.Verify plus oracle_sql.json,
runs each oracle in DuckDB over the same source parquet tables, and compares
row count, sorted column names, and cell values (exact for ints/strings,
bit-exact for floats, lists compared elementwise).

It also compares the per-query job and stage counts in <out>/jobs.json with
the committed plans/jobs.json and prints every query whose jobs or stages
rose. The last line counts the oracle failures and the rises. To accept a
rise, copy the new jobs.json over plans/jobs.json and give the reason in
CHANGES.md.
"""
import json, math, os, sys
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df


def cell_eq(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        if a == 0.0 and b == 0.0:
            # the driver hashes raw float64 bytes, so -0.0 != +0.0 there
            # (Spark's BigDecimal round has no signed zero; DuckDB's C
            # round keeps it) — mirror that strictness
            return math.copysign(1.0, a) == math.copysign(1.0, b)
        return a == b
    if hasattr(a, "__len__") and not isinstance(a, str) and hasattr(b, "__len__") and not isinstance(b, str):
        return len(a) == len(b) and all(cell_eq(x, y) for x, y in zip(a, b))
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if pd.isna(a) or pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    return a == b


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    import glob, os
    results = {}
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    for name in names:
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            results[name] = "NO_SPARK_OUTPUT"
            continue
        spark_df = canon(con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetchdf())
        if name not in oracles:
            results[name] = f"no-oracle rows={len(spark_df)}"
            continue
        try:
            duck_df = canon(con.execute(oracles[name]).fetchdf())
        except Exception as e:
            results[name] = f"ORACLE_SQL_ERROR: {e}"
            continue
        if list(spark_df.columns) != list(duck_df.columns):
            results[name] = f"SCHEMA_MISMATCH spark={list(spark_df.columns)} duck={list(duck_df.columns)}"
            continue
        if len(spark_df) != len(duck_df):
            results[name] = f"ROWCOUNT_MISMATCH spark={len(spark_df)} duck={len(duck_df)}"
            continue
        # The driver's value hash is dtype-sensitive (r3: DuckDB HUGEINT ->
        # float64 vs Spark int64 hashed differently despite equal values), so
        # mirror it: same column must materialize as the same pandas dtype.
        dbad = [(c, str(spark_df[c].dtype), str(duck_df[c].dtype))
                for c in spark_df.columns
                if str(spark_df[c].dtype) != str(duck_df[c].dtype)]
        if dbad:
            results[name] = f"DTYPE_MISMATCH {dbad}"
            continue
        bad = None
        for ci, c in enumerate(spark_df.columns):
            sv, dv = spark_df[c].tolist(), duck_df[c].tolist()
            for ri in range(len(sv)):
                if not cell_eq(sv[ri], dv[ri]):
                    bad = (c, ri, sv[ri], dv[ri])
                    break
            if bad:
                break
        results[name] = "OK" if not bad else f"VALUE_MISMATCH col={bad[0]} row={bad[1]} spark={bad[2]!r} duck={bad[3]!r}"
    n_ok = sum(1 for v in results.values() if v == "OK")
    n_no = sum(1 for v in results.values() if str(v).startswith("no-oracle"))
    for k, v in sorted(results.items()):
        flag = "  " if v == "OK" or str(v).startswith("no-oracle") else "!!"
        print(f"{flag} {k}: {v}")
    # Also sanity-check oracles for queries Verify failed to write
    for name in oracles:
        if name not in results:
            print(f"!! {name}: declared oracle but NO VERIFY OUTPUT DIR")
    rose = job_count_rises(os.path.join(out_dir, "jobs.json"), BASELINE_JOBS)
    print(f"\n{n_ok} OK, {n_no} no-oracle, {len(results) - n_ok - n_no} FAILING "
          f"of {len(results)}; {len(rose)} ROSE in job counts")


BASELINE_JOBS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "..", "plans", "jobs.json")


def job_count_rises(got_path, want_path):
    """Queries whose jobs or stages in got_path exceed want_path's, printed
    one a line. A missing file, or one counted at another scale factor or
    core count, counts as one rise, so the gate cannot pass unchecked."""
    if not os.path.isfile(got_path):
        print(f"!! job counts: {got_path} is missing")
        return ["<missing>"]
    got, want = json.load(open(got_path)), json.load(open(want_path))
    where = lambda d: (os.path.basename(d["sf"].rstrip("/")), d["cores"])
    if where(got) != where(want):
        print(f"!! job counts: counted at (sf, cores) {where(got)}, "
              f"the baseline at {where(want)}")
        return ["<setting>"]
    rose = []
    for name, g in sorted(got["queries"].items()):
        w = want["queries"].get(name)
        if w is None:
            print(f"   {name}: jobs={g['jobs']} stages={g['stages']} (no baseline)")
        elif g["jobs"] > w["jobs"] or g["stages"] > w["stages"]:
            print(f"!! {name}: jobs {w['jobs']} -> {g['jobs']}, "
                  f"stages {w['stages']} -> {g['stages']}")
            rose.append(name)
    return rose


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
