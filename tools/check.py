#!/usr/bin/env python3
"""Local stand-in for the driver's t2 gate: compare Verify.scala parquet
dumps against DuckDB running each oracleSql on the same testdata tables.
Strictest plausible comparison: column names (sorted), column types, row
count, and exact value equality row by row.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
Exits 1 when any query reports a problem, else 0.
"""
import sys, json, glob, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    results = {}
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        files = glob.glob(os.path.join(d, "*.parquet"))
        if not files:
            results[name] = "NO_PARQUET"
            continue
        if name not in oracles:
            n = con.execute(f"SELECT count(*) FROM read_parquet('{files[0]}')").fetchone()[0]
            results[name] = f"ROWS_ONLY rows={n}"
            continue
        try:
            got_rel = con.sql(f"SELECT * FROM read_parquet('{files[0]}')")
            exp_rel = con.sql(oracles[name])
            gcols = list(got_rel.columns); ecols = list(exp_rel.columns)
            gtypes = {c: str(t) for c, t in zip(got_rel.columns, got_rel.types)}
            etypes = {c: str(t) for c, t in zip(exp_rel.columns, exp_rel.types)}
            if sorted(gcols) != sorted(ecols):
                results[name] = f"COLS got={sorted(gcols)} exp={sorted(ecols)}"
                continue
            order = sorted(gcols)
            got = got_rel.project(", ".join(f'"{c}"' for c in order)).fetchall()
            exp = exp_rel.project(", ".join(f'"{c}"' for c in order)).fetchall()
            if len(got) != len(exp):
                results[name] = f"ROWCOUNT got={len(got)} exp={len(exp)}"
                continue
            tmism = {c: (gtypes[c], etypes[c]) for c in order if gtypes[c] != etypes[c]}
            bad = []
            for i, (g, e) in enumerate(zip(got, exp)):
                if g != e:
                    bad.append((i, g, e))
                    if len(bad) >= 3:
                        break
            if bad:
                results[name] = f"VALUES {len(bad)}+ mismatches, first: {bad[0]}" + \
                    (f" TYPES {tmism}" if tmism else "")
            elif tmism:
                results[name] = f"TYPES_ONLY {tmism}"
            else:
                results[name] = "OK"
        except Exception as ex:
            results[name] = f"ERROR {type(ex).__name__}: {str(ex)[:200]}"
    declared = set(oracles)
    dumped = {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}
    for name in sorted(declared - dumped):
        results[name] = "MISSING_DUMP"
    ok = sum(1 for v in results.values() if v == "OK")
    rows_only = sum(1 for v in results.values() if v.startswith("ROWS_ONLY"))
    problems = len(results) - ok - rows_only
    print(f"== {ok} OK, {rows_only} rows-only, {problems} problems ==")
    for k, v in sorted(results.items()):
        if v != "OK":
            print(f"{k:28s} {v}")
    return 1 if problems else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
