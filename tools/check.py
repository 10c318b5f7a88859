#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check.py <verify_out_dir> [sf_dir]

Reads each <name>/ parquet dir written by graft.Verify, runs the matching
oracle SQL from oracle_sql.json in DuckDB against the sf parquet tables,
sorts columns by name + rows by all columns, and compares values exactly.

The sf dir defaults to the one recorded in <verify_out_dir>/verify_meta.json
(graft.Verify writes it); an explicit sf_dir that disagrees with the record
is an error, and so is an output with neither.
"""
import json, os, sys, math
import duckdb
import pandas as pd

out = sys.argv[1]
meta_path = os.path.join(out, "verify_meta.json")
meta_sf = json.load(open(meta_path))["sf_dir"] if os.path.exists(meta_path) else None
if len(sys.argv) > 2:
    sf = sys.argv[2]
    if meta_sf is not None and os.path.realpath(sf) != os.path.realpath(meta_sf):
        sys.exit(f"check.py: {out} was written from {meta_sf}, not {sf}")
elif meta_sf is not None:
    sf = meta_sf
else:
    sys.exit(f"check.py: {out} has no verify_meta.json; give the sf dir it was written from")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    # partial fixtures (e.g. the ScaleStress 10x dir) carry only the
    # tables their gated subset reads — skip the rest. Spark-written
    # fixtures are DIRECTORIES of part files; glob those.
    try:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    except duckdb.IOException:
        try:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet/*.parquet'")
        except duckdb.IOException:
            pass

oracle = json.load(open(f"{out}/oracle_sql.json"))
fail = 0
for name, sql in sorted(oracle.items()):
    try:
        got = con.sql(f"SELECT * FROM '{out}/{name}/*.parquet'").df()
        exp = con.sql(sql).df()
    except Exception as e:
        print(f"FAIL {name}: {e}")
        fail += 1
        continue
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        print(f"FAIL {name}: columns {list(got.columns)} != {list(exp.columns)}")
        fail += 1
        continue
    if len(got) != len(exp):
        print(f"FAIL {name}: rows {len(got)} != {len(exp)}")
        fail += 1
        continue
    g = got.sort_values(by=list(got.columns), kind="mergesort").reset_index(drop=True)
    e = exp.sort_values(by=list(exp.columns), kind="mergesort").reset_index(drop=True)
    bad = None
    # Driver-faithfulness guard #1: the driver hashes canonical STRINGS,
    # so an int64 3 vs float64 3.0 (DuckDB HUGEINT/DECIMAL promotion
    # rendered by pandas) hash-mismatches even though values compare
    # equal. Fail on any dtype-CLASS divergence (integer vs float vs
    # bool vs other) before the value compare.
    def dclass(dt):
        k = dt.kind  # i/u=int, f=float, b=bool, M=datetime, O=object
        return {"i": "int", "u": "int", "f": "float", "b": "bool",
                "M": "datetime"}.get(k, "other")
    for c in g.columns:
        gc, ec = dclass(g[c].dtype), dclass(e[c].dtype)
        if gc != ec:
            bad = (f"col {c} dtype-class {gc}({g[c].dtype}) != "
                   f"{ec}({e[c].dtype}) — driver hash would mismatch")
            break
    for c in (g.columns if not bad else []):
        gv, ev = g[c], e[c]
        try:
            eq = (gv == ev) | (gv.isna() & ev.isna())
        except Exception:
            eq = gv.astype(str) == ev.astype(str)
        if not eq.all():
            i = int((~eq).idxmax())
            bad = f"col {c} row {i}: spark={gv[i]!r} oracle={ev[i]!r}"
            break
        # Driver-faithfulness guard #2: canonical-string equality — the
        # same cells must RENDER identically, not just compare equal.
        seq = gv.astype(str) == ev.astype(str)
        if not seq.all():
            i = int((~seq).idxmax())
            bad = (f"col {c} row {i}: values equal but render differently: "
                   f"spark={str(gv[i])!r} oracle={str(ev[i])!r}")
            break
    if bad:
        print(f"FAIL {name}: {bad}")
        fail += 1
    else:
        print(f"OK   {name} ({len(got)} rows)")
# Surface Verify-side failures (analysis errors etc.) from errors.json:
# a query absent from the parquet dump should be diagnosed by its actual
# Spark error, not a DuckDB file-not-found message.
try:
    errs = json.load(open(f"{out}/errors.json"))
except Exception:
    errs = {}
for name, msg in sorted(errs.items()):
    print(f"ERR  {name} (verify-side): {msg}")
print(f"\n{len(oracle) - fail}/{len(oracle)} passed" +
      (f", {len(errs)} verify-side errors" if errs else ""))
sys.exit(1 if fail or errs else 0)
