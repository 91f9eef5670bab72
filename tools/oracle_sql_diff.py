#!/usr/bin/env python3
"""Check that a change to the declared oracle SQL keeps its results.

Usage: python3 tools/oracle_sql_diff.py <sfDir> <before/oracle_sql.json> <after/oracle_sql.json>

Lists the rows whose SQL text differs between the two dumps (graft.Verify
writes oracle_sql.json), runs both texts of each such row in DuckDB over
the views of <sfDir>, and compares the canonical results: column names,
pandas dtypes, row count and values (bit-exact floats), the same checks
tools/check_oracle.py makes against the engine. Exits 1 on any difference,
including a row present in only one dump.
"""
import json, sys, time

from check_oracle import canon, connect, values_equal

def run(con, sql):
    df = con.sql(sql).df()
    rows, cols = canon([tuple(r) for r in df.itertuples(index=False, name=None)],
                       list(df.columns))
    return rows, cols, [str(df.dtypes[c]) for c in cols]

def diff(con, before, after):
    """First difference between the two texts' results, or None."""
    b_rows, b_cols, b_dt = run(con, before)
    a_rows, a_cols, a_dt = run(con, after)
    if b_cols != a_cols:
        return f"columns before={b_cols} after={a_cols}"
    if b_dt != a_dt:
        return f"dtypes before={b_dt} after={a_dt}"
    if len(b_rows) != len(a_rows):
        return f"rows before={len(b_rows)} after={len(a_rows)}"
    for i, (br, ar) in enumerate(zip(b_rows, a_rows)):
        if not values_equal(list(br), list(ar)):
            return f"first mismatch row {i}:\n  before: {br}\n  after : {ar}"
    return None

def main(sf_dir, before_path, after_path):
    before = json.load(open(before_path))
    after = json.load(open(after_path))
    only = sorted(set(before) ^ set(after))
    for name in only:
        print(f"ONLY-{'BEFORE' if name in before else 'AFTER'} {name}", flush=True)
    changed = sorted(n for n in set(before) & set(after) if before[n] != after[n])
    print(f"{len(changed)} of {len(set(before) & set(after))} rows changed text",
          flush=True)
    con = connect(sf_dir)
    n_diff = 0
    for name in changed:
        t0 = time.time()
        try:
            bad = diff(con, before[name], after[name])
        except Exception as ex:
            bad = f"exception {ex}"
        secs = time.time() - t0
        if bad:
            n_diff += 1
            print(f"DIFF {name}: {bad} ({secs:.1f}s)", flush=True)
        else:
            print(f"SAME {name} ({secs:.1f}s)", flush=True)
    print(f"== {len(changed) - n_diff} same / {n_diff} differ / "
          f"{len(only)} in one dump only ==")
    return 1 if n_diff or only else 0

if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    sys.exit(main(*sys.argv[1:]))
