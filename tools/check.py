#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: tools/check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (Spark result), runs the matching
oracle SQL from oracle_sql.json in DuckDB over the fixture tables, and
requires three things of each pair:
  - equal column names and equal DuckDB column types;
  - equal values (fetchall() Python values, column-name-sorted), in order
    or as multisets;
  - equal `.df()`-rendered rows as multisets. A pandas frame shows what a
    fetchall() hides: a HUGEINT oracle column renders as float64 (40.0)
    where the engine's BIGINT renders as int64 (40).
Dev tool only — not part of the library (driver has duckdb; our engine
doesn't depend on it).
"""
import json, sys, glob, math, tempfile
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver-style value hash: canonical repr
        return repr(v)
    return repr(v)

def rows_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(norm_cell(r[i]) for i in order) for r in rows]

def render_cell(v):
    """One `.df()` cell as text; numpy scalars keep their dtype's form."""
    if v is None:
        return "NULL"
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{render_cell(k)}:{render_cell(x)}" for k, x in v.items()) + "}"
    return repr(v)

def rendered_rows(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    df = rel.df()
    return sorted(tuple(render_cell(df.iat[r, i]) for i in order) for r in range(len(df)))

def print_diff(spark_rows, duck_rows):
    sset, dset = set(spark_rows), set(duck_rows)
    for x in list(sset - dset)[:3]:
        print(f"   spark-only: {x}")
    for x in list(dset - sset)[:3]:
        print(f"   duck-only:  {x}")

def types_by_name(rel):
    return sorted(zip(rel.columns, (str(t) for t in rel.types)))

def main(sf_dir, out_dir, tmp_dir):
    # bounded memory, threads and spill: at its defaults DuckDB once filled
    # 20 GB of disk with temp files on the l4_bpe_encode oracle
    con = duckdb.connect(config={"memory_limit": "2GB", "threads": 4,
                                 "temp_directory": tmp_dir,
                                 "max_temp_directory_size": "8GB"})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        sql = oracle[name]
        res_files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not res_files:
            print(f"FAIL {name}: no spark result written"); n_fail += 1; continue
        try:
            spark_rel = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            scols, srows = spark_rel.columns, spark_rel.fetchall()
            duck_rel = con.sql(sql)
            dcols, drows = duck_rel.columns, duck_rel.fetchall()
            s_types, d_types = types_by_name(spark_rel), types_by_name(duck_rel)
            s_rendered, d_rendered = rendered_rows(spark_rel), rendered_rows(duck_rel)
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: cols spark={sorted(scols)} duck={sorted(dcols)}"); n_fail += 1; continue
        if s_types != d_types:
            diff = [(c, t, u) for (c, t), (_, u) in zip(s_types, d_types) if t != u]
            print(f"FAIL {name}: column types differ (column, spark, duck): {diff}"); n_fail += 1; continue
        sk, dk = rows_key(scols, srows), rows_key(dcols, drows)
        if sorted(sk) != sorted(dk):
            print(f"FAIL {name}: rows spark={len(srows)} duck={len(drows)}")
            print_diff(sk, dk); n_fail += 1
        elif s_rendered != d_rendered:
            print(f"FAIL {name}: .df()-rendered rows differ")
            print_diff(s_rendered, d_rendered); n_fail += 1
        elif sk == dk:
            print(f"PASS {name} ({len(srows)} rows)"); n_pass += 1
        else:
            print(f"PASS* {name} ({len(srows)} rows; order differs)"); n_pass += 1
    # names declared in queries but absent from oracle: rows-only check
    import os
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        name = os.path.basename(d.rstrip("/"))
        if name in oracle:
            continue
        files = glob.glob(f"{d}/*.parquet")
        if not files:
            print(f"FAIL {name}: no-oracle query wrote no output"); n_fail += 1; continue
        n = con.sql(f"SELECT count(*) FROM read_parquet('{d}/*.parquet')").fetchone()[0]
        if n > 0:
            print(f"PASS~ {name} ({n} rows, rows-only check)"); n_pass += 1
        else:
            print(f"FAIL {name}: no-oracle query returned 0 rows"); n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    with tempfile.TemporaryDirectory(prefix="check-duckdb-") as tmp:
        rc = main(sys.argv[1], sys.argv[2], tmp)
    sys.exit(rc)
