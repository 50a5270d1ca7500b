#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run each oracle SQL in
DuckDB over the same parquet tables and compare with the Verify output
(columns sorted by name, exact value match; floats compared bit-near).
Each oracle line carries its DuckDB seconds, and the ten slowest oracle
queries are listed before the final line.

Usage: python3 tools/check.py <verify_outdir> <sf_dir>
"""
import sys, json, glob, math, time
import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df

def cmp_frames(name, got, exp):
    if sorted(got.columns) != sorted(exp.columns):
        return f"SCHEMA col names differ: spark={sorted(got.columns)} duck={sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"ROWS differ: spark={len(got)} duck={len(exp)}"
    got, exp = norm(got), norm(exp)
    # The driver hashes raw values, so a float64 oracle column vs an
    # int64 spark column mismatches even when values are equal (the
    # round-1 HUGEINT bug class). Flag dtype-kind differences loudly.
    for c in got.columns:
        gk, ek = got[c].dtype.kind, exp[c].dtype.kind
        if {gk, ek} == {"i", "f"} or {gk, ek} == {"u", "f"}:
            return f"col {c}: DTYPE kind differs spark={got[c].dtype} duck={exp[c].dtype} (driver hash would mismatch)"
    for c in got.columns:
        a, b = got[c].tolist(), exp[c].tolist()
        for i, (x, y) in enumerate(zip(a, b)):
            if x is None and y is None:
                continue
            # NaT (null timestamps) — pd.isna-equal on both sides is a match
            if not isinstance(x, (list, tuple)) and not isinstance(y, (list, tuple)):
                try:
                    if pd.isna(x) and pd.isna(y):
                        continue
                except (TypeError, ValueError):
                    pass
            xn = isinstance(x, float) and math.isnan(x)
            yn = isinstance(y, float) and math.isnan(y)
            if xn or yn:
                if xn and yn:
                    continue
                return f"col {c} row {i}: {x!r} != {y!r}"
            if (x is None) != (y is None):
                return f"col {c} row {i}: {x!r} != {y!r} (null mismatch)"
            if isinstance(x, float) or isinstance(y, float):
                if x != y:
                    return f"col {c} row {i}: FLOAT {x!r} != {y!r} (diff={abs(float(x)-float(y)):.3e})"
            elif x != y:
                return f"col {c} row {i}: {x!r} != {y!r}"
    return None

def main():
    outdir, sfdir = sys.argv[1], sys.argv[2]
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    failures = 0
    duck_s = {}
    for name in sorted(oracle):
        sql = oracle[name]
        files = sorted(glob.glob(f"{outdir}/{name}/*.parquet"))
        if not files:
            print(f"[FAIL] {name}: no spark output")
            failures += 1
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        t0 = time.perf_counter()
        try:
            exp = con.execute(sql).df()
        except Exception as e:
            print(f"[FAIL] {name}: oracle SQL error after {time.perf_counter() - t0:.2f} s: {e}")
            failures += 1
            continue
        duck_s[name] = time.perf_counter() - t0
        err = cmp_frames(name, got, exp)
        if err:
            print(f"[FAIL] {name} ({duck_s[name]:.2f} s duckdb): {err}")
            failures += 1
        else:
            print(f"[ ok ] {name} ({len(got)} rows, {duck_s[name]:.2f} s duckdb)")
    # queries without oracle: rows-only check
    for d in sorted(glob.glob(f"{outdir}/*/")):
        name = d.rstrip("/").split("/")[-1]
        if name in oracle:
            continue
        files = sorted(glob.glob(f"{d}/*.parquet"))
        n = sum(pd.read_parquet(f).shape[0] for f in files) if files else 0
        print(f"[{'ok..' if n > 0 else 'FAIL'}] {name} rows-only: {n}")
        failures += 0 if n > 0 else 1
    print(f"slowest oracle queries ({sum(duck_s.values()):.1f} s duckdb in all):")
    for name in sorted(duck_s, key=duck_s.get, reverse=True)[:10]:
        print(f"  {duck_s[name]:8.2f} s  {name}")
    print(f"{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    sys.exit(1 if failures else 0)

if __name__ == "__main__":
    main()
