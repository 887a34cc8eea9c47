#!/usr/bin/env python3
"""Local dev harness that mimics the driver's DuckDB oracle compare.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

For each <name> subdir in verifyOutDir (written by graft.Verify), runs the
matching oracle_sql.json SQL in DuckDB over the sfDir parquet tables and
compares row counts, column names (sorted), and a row-order-insensitive
value hash. NOT part of the shipped library - driver-side python only.
"""
import sys, os, json, glob
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)

def frame_fingerprint(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    import hashlib
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    failures = 0
    for name in names:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            print(f"[MISS ] {name}: no spark parquet output")
            failures += 1
            continue
        spark_rel = con.sql(
            "SELECT * FROM read_parquet([" +
            ",".join(f"'{f}'" for f in files) + "])")
        s_cols = [c.lower() for c in spark_rel.columns]
        s_rows = spark_rel.fetchall()
        if name not in oracles:
            print(f"[WEAK ] {name}: rows={len(s_rows)} (no oracle; rows-only check)")
            continue
        try:
            d_rel = con.sql(oracles[name])
            d_cols = [c.lower() for c in d_rel.columns]
            d_rows = d_rel.fetchall()
        except Exception as e:
            print(f"[ERR  ] {name}: oracle SQL failed: {e}")
            failures += 1
            continue
        ok_cols = sorted(s_cols) == sorted(d_cols)
        ok_rows = len(s_rows) == len(d_rows)
        # type audit: a type-sensitive driver compare would flag INT vs
        # BIGINT even when values match — surface those as warnings
        try:
            s_types = dict(zip(s_cols, [str(t) for t in spark_rel.types]))
            d_types = dict(zip(d_cols, [str(t) for t in d_rel.types]))
            for c in sorted(set(s_cols) & set(d_cols)):
                if s_types[c] != d_types[c]:
                    print(f"[TYPE ] {name}.{c}: spark={s_types[c]} duck={d_types[c]}")
        except Exception:
            pass
        ok_hash = (ok_cols and ok_rows and
                   frame_fingerprint(s_rows, s_cols) == frame_fingerprint(d_rows, d_cols))
        if ok_hash:
            print(f"[OK   ] {name}: rows={len(s_rows)}")
        else:
            failures += 1
            print(f"[FAIL ] {name}: cols_match={ok_cols} "
                  f"rows {len(s_rows)} vs {len(d_rows)} hash_match={ok_hash}")
            if not ok_cols:
                print(f"        spark cols: {sorted(s_cols)}")
                print(f"        duck  cols: {sorted(d_cols)}")
            elif len(s_rows) and len(d_rows):
                order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
                order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
                set_s = {tuple(norm_cell(r[i]) for i in order_s) for r in s_rows}
                set_d = {tuple(norm_cell(r[i]) for i in order_d) for r in d_rows}
                # count + smallest rows: stable across runs, unlike a
                # set's iteration order (per-process string hash seed)
                only_s = sorted(set_s - set_d)
                only_d = sorted(set_d - set_s)
                print(f"        only in spark: {len(only_s)} rows, first {only_s[:3]}")
                print(f"        only in duck : {len(only_d)} rows, first {only_d[:3]}")
    print(f"\n{len(names) - failures}/{len(names)} queries match")
    return 1 if failures else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
