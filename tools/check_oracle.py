#!/usr/bin/env python3
"""Local pre-check of the driver's DuckDB oracle gate (BASELINE.md).

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs the
matching oracle SQL from oracle_sql.json in DuckDB with views over the same
sf parquet tables, and compares: schema (column names, sorted), row count,
and values (exact for non-floats; bit-exact for floats by default).

Each side executes exactly ONCE into a pandas frame (pre-r11 the oracle SQL
ran twice — fetchall for values + .df() for dtypes — doubling DuckDB cost,
which at sf10 meant 25-minute oracle queries ran back to back); values,
dtypes, and row counts all derive from that single frame, which is also
CLOSER to the real driver (its canonicalize-and-hash is pandas end to end).

Timing split (VERDICT r10 #3): every PASS/FAIL line carries oracle seconds
and total seconds, and spark seconds when <verifyOutDir>/spark_times.json
exists (graft.Verify writes it — per-query plan+execute+write wall time), so
a 1,500s gate row is attributable to the engine or the oracle, not argued.
Set CHECK_JSON_OUT=<path> to also dump a machine-readable
{name: {status, rows, spark_s, oracle_s, total_s}} map for gate artifacts.
"""
import json, sys, math, os, time
import numpy as np
import pandas as pd
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(rows, cols):
    # sort columns by name, then rows by their string repr for order-insensitive compare
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in idx) for r in rows]
    return sorted(out, key=repr), [cols[i] for i in idx]

def is_null(x):
    # pandas frames carry None / NaN / NaT depending on dtype; the dtype
    # check runs BEFORE the value compare, so both sides use the same
    # representation and null==null mirrors the driver's pandas hash
    return x is None or x is pd.NaT or (isinstance(x, float) and math.isnan(x))

def values_equal(a, b):
    if is_null(a) or is_null(b):
        return is_null(a) and is_null(b)
    if isinstance(a, float) and isinstance(b, float):
        return (a == b) or (math.isnan(a) and math.isnan(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(values_equal(x, y) for x, y in zip(a, b))
    return a == b

def connect(sf_dir):
    """A DuckDB connection with one view per fixture table of sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        # driver fixtures are single files; ScaleUp-generated fixtures are
        # Spark-written directories — glob the parts in that case
        p = f"{sf_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con

def main(sf_dir, out_dir):
    con = connect(sf_dir)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    spark_times = {}
    st_path = f"{out_dir}/spark_times.json"
    if os.path.exists(st_path):
        spark_times = json.load(open(st_path))
    # targeted reruns / long-run visibility: CHECK_ONLY / CHECK_SKIP are
    # comma-separated query names; every line flushes immediately (a
    # 70-minute opaque run at sf1 motivated this)
    only = {x for x in os.environ.get("CHECK_ONLY", "").split(",") if x}
    skip = {x for x in os.environ.get("CHECK_SKIP", "").split(",") if x}
    results = {}
    n_pass = n_fail = 0

    def record(name, status, rows, t0, t_oracle, detail=""):
        nonlocal n_pass, n_fail
        total = time.time() - t0
        entry = {"status": status, "rows": rows,
                 "oracle_s": round(t_oracle, 1), "total_s": round(total, 1)}
        sp = spark_times.get(name)
        if sp is not None:
            entry["spark_s"] = round(float(sp), 1)
        results[name] = entry
        spk = f", spark {entry['spark_s']}s" if sp is not None else ""
        if status == "pass":
            n_pass += 1
            print(f"PASS {name} ({rows} rows, oracle {entry['oracle_s']}s"
                  f"{spk}, total {entry['total_s']}s)", flush=True)
        else:
            n_fail += 1
            print(f"FAIL {name}: {detail} (oracle {entry['oracle_s']}s"
                  f"{spk}, total {entry['total_s']}s)", flush=True)

    for name, sql in sorted(oracle.items()):
        if (only and name not in only) or name in skip:
            continue
        t0 = time.time()
        t_oracle = 0.0
        try:
            g_df = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
            t1 = time.time()
            e_df = con.sql(sql).df()
            t_oracle = time.time() - t1
        except Exception as ex:
            record(name, "fail", -1, t0, t_oracle, f"exception {ex}")
            continue
        g_cols, e_cols = list(g_df.columns), list(e_df.columns)
        g_rows = [tuple(r) for r in g_df.itertuples(index=False, name=None)]
        e_rows = [tuple(r) for r in e_df.itertuples(index=False, name=None)]
        # The real driver canonicalizes with pandas sort_values + hash, which
        # CRASHES on array-typed result columns (round-1 q_normalize:
        # "unhashable type: numpy.ndarray"). Mirror that: any array-valued
        # column is a hard FAIL here even though our tuple compare could
        # handle it — local PASS must imply driver PASS.
        arrayish = [c for c, v in zip(g_cols, g_rows[0] if g_rows else [])
                    if isinstance(v, (list, tuple, np.ndarray))]
        if arrayish:
            record(name, "fail", len(g_rows), t0, t_oracle,
                   f"array-typed result columns {arrayish} (driver's pandas "
                   "compare cannot hash these — emit scalars)")
            continue
        cg_rows, cg_cols = canon(g_rows, g_cols)
        ce_rows, ce_cols = canon(e_rows, e_cols)
        if cg_cols != ce_cols:
            record(name, "fail", len(cg_rows), t0, t_oracle,
                   f"columns spark={cg_cols} oracle={ce_cols}")
            continue
        # The driver canonicalizes BOTH sides through pandas before hashing, so
        # dtypes are part of the hash: DuckDB HUGEINT (sum over BIGINT) becomes
        # float64 while Spark's parquet int64 stays int64 — value-identical
        # frames hash-mismatch (round-5 q_burst_detect / q_lm_score). Mirror
        # that: any per-column pandas dtype difference is a hard FAIL here —
        # local PASS must imply driver PASS.
        g_dt, e_dt = g_df.dtypes, e_df.dtypes
        dt_bad = [(c, str(g_dt[c]), str(e_dt[c])) for c in cg_cols
                  if str(g_dt[c]) != str(e_dt[c])]
        if dt_bad:
            record(name, "fail", len(cg_rows), t0, t_oracle,
                   f"pandas dtype mismatch (spark vs oracle): {dt_bad} — "
                   "CAST the oracle (HUGEINT sums need AS BIGINT)")
            continue
        if len(cg_rows) != len(ce_rows):
            record(name, "fail", len(cg_rows), t0, t_oracle,
                   f"rows spark={len(cg_rows)} oracle={len(ce_rows)}")
            continue
        bad = None
        for i, (gr, er) in enumerate(zip(cg_rows, ce_rows)):
            if not values_equal(list(gr), list(er)):
                bad = (i, gr, er)
                break
        if bad:
            i, gr, er = bad
            record(name, "fail", len(cg_rows), t0, t_oracle,
                   f"first mismatch row {i}:\n  spark : {gr}\n  oracle: {er}")
        else:
            record(name, "pass", len(cg_rows), t0, t_oracle)
    print(f"== {n_pass} pass / {n_fail} fail ==")
    out_json = os.environ.get("CHECK_JSON_OUT")
    if out_json:
        with open(out_json, "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
