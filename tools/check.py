#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check.py [sfdir] [outdir]

Runs nothing itself — expects `sbt "runMain graft.Verify <sfdir> <outdir>"`
to have produced <outdir>/<name>/ parquet dirs + oracle_sql.json.
Then runs each oracle SQL in DuckDB over the same parquet tables and
compares: row count, sorted column names, and exact cell values
(rows sorted by all columns). Strict — mirrors a hash compare.
"""
import json, sys, glob, os
import duckdb
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm_cell(v):
    # Make pandas/duckdb/pyarrow scalars comparable.
    import math, datetime
    import numpy as np
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    if isinstance(v, (np.bool_,)):
        return bool(v)
    if isinstance(v, (datetime.datetime,)):
        return v.isoformat()
    if isinstance(v, np.datetime64):
        return str(v)
    if isinstance(v, (list, np.ndarray)):
        return tuple(norm_cell(x) for x in v)
    return v

def frame_rows(df):
    cols = sorted(df.columns)
    rows = [tuple(norm_cell(v) for v in r) for r in df[cols].itertuples(index=False, name=None)]
    rows.sort(key=lambda r: tuple((x is None, str(type(x)), x) for x in r))
    # Normalized dtype kind per column: the driver's hash compare is
    # cell-type-sensitive (int64 44820 != float64 44820.0), so the local
    # gate must be too. Kinds: i=int, f=float, b=bool, O=object, M=datetime.
    kinds = [df[c].dtype.kind for c in cols]
    return cols, rows, kinds

def main():
    sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    record_path = sys.argv[3] if len(sys.argv) > 3 else None
    record = {}
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.isdir(p):
            # Spark directory-parquet (e.g. the ScaleData /tmp/sf1.0
            # tables): DuckDB needs the part-file glob, not the dir
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    fails = []
    # Verify writes no dir for a query that threw, so a query with an
    # oracle but no output must still be named (as FAIL, below).
    names = sorted(set(oracles) | {d for d in os.listdir(outdir)
                                   if os.path.isdir(os.path.join(outdir, d))})
    for name in names:
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; fails.append(name)
            record[name] = {"status": "fail", "reason": "no spark output"}; continue
        spark_df = pq.read_table(files[0]).to_pandas()
        if name not in oracles:
            print(f"ROWS {name}: rows={len(spark_df)} (no oracle)")
            record[name] = {"status": "rows_only", "rows": len(spark_df)}
            continue
        try:
            duck_df = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}"); n_fail += 1; fails.append(name)
            record[name] = {"status": "fail", "reason": f"oracle SQL error: {e}"[:300]}; continue
        sc, sr, sk = frame_rows(spark_df)
        dc, dr, dk = frame_rows(duck_df)
        if sc != dc:
            print(f"FAIL {name}: columns {sc} != {dc}"); n_fail += 1; fails.append(name)
            record[name] = {"status": "fail", "reason": f"columns {sc} != {dc}"[:300]}; continue
        if sk != dk:
            print(f"FAIL {name}: dtype kinds differ: spark={list(zip(sc, sk))} duck={list(zip(dc, dk))}")
            n_fail += 1; fails.append(name)
            record[name] = {"status": "fail", "reason": "dtype kinds differ"}; continue
        if len(sr) != len(dr):
            print(f"FAIL {name}: rowcount {len(sr)} != {len(dr)}"); n_fail += 1; fails.append(name)
            record[name] = {"status": "fail", "reason": f"rowcount {len(sr)} != {len(dr)}"}; continue
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(sr, dr)) if a != b]
        if bad:
            i, a, b = bad[0]
            print(f"FAIL {name}: {len(bad)}/{len(sr)} rows differ; first at {i}:\n  spark={a}\n  duck ={b}")
            n_fail += 1; fails.append(name)
            record[name] = {"status": "fail", "reason": f"{len(bad)}/{len(sr)} rows differ"}; continue
        print(f"PASS {name}: {len(sr)} rows")
        n_pass += 1
        record[name] = {"status": "pass", "rows": len(sr)}
    print(f"\n{n_pass} pass, {n_fail} fail" + (f": {fails}" if fails else ""))
    if record_path:
        # role disambiguates the committed record's provenance: the
        # correctness record is the ORACLE GATE at its own SF and is
        # not meant to match BENCH_LOCAL.json's bench SF (r13 ADVICE)
        out = {"sfdir": sfdir, "n_pass": n_pass, "n_fail": n_fail,
               "role": f"oracle correctness gate at {sfdir} "
                       "(independent of the bench record's SF)",
               "queries": record}
        with open(record_path, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(f"wrote {record_path}")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
