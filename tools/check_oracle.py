#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [--json <file>]

Reads each <verifyOutDir>/<name> parquet (Spark result), runs the matching
oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB with the sfDir
parquet files registered as views, then compares: schema (sorted column
names), dtype FAMILIES (int vs float vs other — the driver's hash is
type-sensitive, so a DuckDB HUGEINT surfacing as float64 must fail here
too), row count, and values BYTE-EXACTLY (columns sorted by name, rows
sorted; float columns compared on their IEEE-754 bit patterns, so a
Spark +0.0 vs DuckDB -0.0 fails here exactly as it fails the driver's
byte-sensitive hash — the prior rtol=1e-9 comparison let the r3
ts_stl_decompose sign-of-zero mismatch ship).

--json <file> also writes the per-query verdict (pass / fail / no_oracle),
the counts, and under "seconds" each query's DuckDB execution time (also
printed on its PASS/FAIL line). no_oracle lists the queries Verify ran
(its timings.json) that have no oracle SQL: the spec-only ones.
"""
import argparse, sys, os, json, glob, time
import duckdb
import pandas as pd
import numpy as np

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        if np.issubdtype(df[c].dtype, np.floating):
            # widen (exact) so float32 vs float64 outputs compare on value;
            # do NOT round — the driver hashes raw bytes
            df[c] = df[c].astype(np.float64)
        if np.issubdtype(df[c].dtype, np.datetime64):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

def bitwise_float_diff(got: pd.DataFrame, want: pd.DataFrame):
    """Return (col, n_bad, first_idx) for the first float column whose
    IEEE bit patterns differ (NaN==NaN regardless of payload), else None."""
    for c in got.columns:
        if not np.issubdtype(got[c].dtype, np.floating):
            continue
        a = got[c].to_numpy(dtype=np.float64)
        b = want[c].to_numpy(dtype=np.float64)
        na, nb = np.isnan(a), np.isnan(b)
        bad = (na != nb) | (~na & ~nb & (a.view(np.int64) != b.view(np.int64)))
        if bad.any():
            i = int(np.argmax(bad))
            return c, int(bad.sum()), i
    return None

def main(sf_dir, out_dir, json_path=None):
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    verdicts, seconds = {}, {}
    for name, sql in sorted(oracle.items()):
        res_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{res_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output", flush=True); verdicts[name] = "fail"; continue
        try:
            got = canon(pd.concat([pd.read_parquet(f) for f in sorted(files)]))
            t0 = time.monotonic()
            want = con.execute(sql).fetchdf()
            seconds[name] = round(time.monotonic() - t0, 3)
            want = canon(want)
        except Exception as e:
            print(f"FAIL {name}: {e}", flush=True); verdicts[name] = "fail"; continue
        took = f"[{seconds[name]:.1f} s]"
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name} {took}: columns {list(got.columns)} vs {list(want.columns)}", flush=True); verdicts[name] = "fail"; continue
        # dtype-family parity (mirrors the driver's type-sensitive hash):
        # int64 vs float64 is a mismatch even when every value is equal.
        fam = lambda dt: ("int" if dt.kind in "iu" else
                          "float" if dt.kind == "f" else
                          "time" if dt.kind == "M" else "obj")
        badty = [(c, got[c].dtype, want[c].dtype) for c in got.columns
                 if fam(got[c].dtype) != fam(want[c].dtype)]
        if badty:
            print(f"FAIL {name} {took}: dtype family mismatch {badty}", flush=True); verdicts[name] = "fail"; continue
        if len(got) != len(want):
            print(f"FAIL {name} {took}: rows {len(got)} vs {len(want)}", flush=True); verdicts[name] = "fail"; continue
        # non-float columns (ints/strings/timestamps) compared EXACTLY —
        # a tolerant assert_frame_equal applies rtol to integer dtypes too
        # under pandas 2.x, which would let a drifting int64 epoch/count/id
        # pass here yet fail the driver's byte-sensitive hash
        nonf = [c for c in got.columns
                if not np.issubdtype(got[c].dtype, np.floating)]
        try:
            if nonf:
                pd.testing.assert_frame_equal(got[nonf], want[nonf],
                                              check_dtype=False, check_exact=True)
        except AssertionError as e:
            print(f"FAIL {name} {took}: value mismatch\n{str(e)[:500]}", flush=True); verdicts[name] = "fail"; continue
        # float columns byte-exact (the driver hashes raw bytes; -0.0 != +0.0)
        bit = bitwise_float_diff(got, want)
        if bit is not None:
            c, nbad, i = bit
            print(f"FAIL {name} {took}: bitwise float mismatch col={c} rows={nbad} "
                  f"first@{i}: spark={got[c].iloc[i]!r} oracle={want[c].iloc[i]!r} "
                  f"(signbit {np.signbit(got[c].iloc[i])} vs {np.signbit(want[c].iloc[i])})",
                  flush=True)
            verdicts[name] = "fail"; continue
        print(f"PASS {name} ({len(got)} rows) {took}", flush=True); verdicts[name] = "pass"
    # queries Verify ran without an oracle: spec-only if they wrote output
    timings = f"{out_dir}/timings.json"
    ran = json.load(open(timings)) if os.path.exists(timings) else {}
    for name in sorted(set(ran) - set(verdicts)):
        if name.startswith("_"):
            continue
        if glob.glob(f"{out_dir}/{name}/*.parquet"):
            verdicts[name] = "no_oracle"
        else:
            print(f"FAIL {name}: no spark output"); verdicts[name] = "fail"
    counts = {k: sum(v == k for v in verdicts.values())
              for k in ("pass", "fail", "no_oracle")}
    n_fail = counts["fail"]
    print(f"\n{counts['pass']} pass, {n_fail} fail, {counts['no_oracle']} no_oracle")
    if json_path:
        with open(json_path, "w") as f:
            json.dump({"counts": counts, "queries": dict(sorted(verdicts.items())),
                       "seconds": seconds}, f, indent=1)
            f.write("\n")
    return 1 if n_fail else 0

if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--json", dest="json_path",
                    help="write per-query pass/fail/no_oracle and counts here")
    a = ap.parse_args()
    sys.exit(main(a.sf_dir, a.out_dir, a.json_path))
