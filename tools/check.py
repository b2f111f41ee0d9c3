#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate (dev tool only; the
shipped engine is pure Scala/Spark). Usage:
  python3 tools/check.py <verifyOutDir> <sfDir> [nameRegex]

nameRegex (default: every name) selects the oracle names expected to
have a Spark output directory; each selected name without one FAILs
("no Spark output"), because Verify logs a throwing query and writes
no directory for it. Pass the same regex Verify was given when it
dumped a subset.

Mimics the driver faithfully (lesson of round 1, where Python `==`
passed 99111 == 99111.0 but the driver's dtype-sensitive hash failed):
  - results go through pandas (`duckdb.sql(...).df()`), so DuckDB
    HUGEINT becomes float64 here exactly as it does at the driver;
  - columns sorted by name, rows sorted via pandas sort_values — which
    CRASHES on array-typed cells just like the driver's canonical sort;
  - dtypes must match exactly (int64 vs float64 is a FAIL even when the
    values compare equal);
  - values compared exactly (floats bit-for-bit via repr).
Additionally lints every oracle: a HUGEINT column in the oracle result
means an uncast integer sum() — rejected outright, because pandas
silently widens it to float64 and the driver hash can never match.
Rows-only outputs (no oracle) are still canonicalized, so a
driver-crashing column type fails here first.
"""
import sys, os, json, re
import duckdb

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def canon(df):
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)

def cell(v):
    # repr distinguishes 1 from 1.0 and is bit-faithful for floats.
    return repr(v)

def fast_equal(g, e):
    for c in g.columns:
        gc, ec = g[c], e[c]
        if str(gc.dtype) in ("float64", "float32"):
            if gc.to_numpy().tobytes() != ec.to_numpy().tobytes():
                return False
        elif not gc.equals(ec):
            return False
    return True

def diff_rows(g, e):
    for i in range(len(g)):
        gr, er = [cell(x) for x in g.iloc[i]], [cell(x) for x in e.iloc[i]]
        if gr != er:
            return i, gr, er
    return None

def main(outdir, sfdir, name_re=""):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(n for n in oracles if re.search(name_re, n)):
        if not os.path.isdir(os.path.join(outdir, name)):
            print(f"FAIL {name}: no Spark output")
            n_fail += 1
    for name in sorted(os.listdir(outdir)):
        d = os.path.join(outdir, name)
        if not os.path.isdir(d):
            continue
        try:
            got = canon(con.sql(f"SELECT * FROM read_parquet('{d}/*.parquet')").df())
        except Exception as ex:
            print(f"FAIL {name}: spark output does not canonicalize "
                  f"(driver would crash too): {type(ex).__name__}: {ex}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"  {name:28s} rows-only: {len(got)} rows")
            continue
        try:
            rel = con.sql(oracles[name])
            hug = [c for c, t in zip(rel.columns, rel.types)
                   if str(t).upper() in ("HUGEINT", "INT128", "UHUGEINT")]
            if hug:
                print(f"FAIL {name}: oracle columns {hug} are HUGEINT — "
                      f"uncast integer sum(); wrap in CAST(... AS BIGINT)")
                n_fail += 1
                continue
            exp = canon(rel.df())
        except Exception as ex:
            print(f"FAIL {name}: oracle error: {ex}")
            n_fail += 1
            continue
        ok = True
        if list(got.columns) != list(exp.columns):
            print(f"FAIL {name}: columns {list(got.columns)} vs oracle {list(exp.columns)}")
            ok = False
        elif [str(t) for t in got.dtypes] != [str(t) for t in exp.dtypes]:
            bad = [(c, str(a), str(b)) for c, a, b in
                   zip(got.columns, got.dtypes, exp.dtypes) if str(a) != str(b)]
            print(f"FAIL {name}: dtype mismatch (col, spark, oracle): {bad}")
            ok = False
        elif len(got) != len(exp):
            print(f"FAIL {name}: {len(got)} rows vs oracle {len(exp)}")
            ok = False
        elif not fast_equal(got, exp):
            # fast path is C-speed and bit-exact (float columns compare as
            # raw bytes, so -0.0 vs 0.0 and NaN payloads count as diffs);
            # only walk rows for the error message when something differs
            d0 = diff_rows(got, exp)
            if d0 is not None:
                i, gr, er = d0
                print(f"FAIL {name}: first diff at sorted-row {i}:")
                print(f"  spark : {gr}")
                print(f"  oracle: {er}")
            else:
                # bytes differ but repr can't show it (e.g. NaN payload,
                # -0.0): still a mismatch for a byte-level hash gate
                print(f"FAIL {name}: float columns differ at byte level "
                      f"(repr-identical — NaN payload or signed zero)")
            ok = False
        if ok:
            n_pass += 1
            print(f"  {name:28s} OK ({len(got)} rows)")
        else:
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:4]))
