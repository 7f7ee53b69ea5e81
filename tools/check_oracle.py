#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <outDir> [--json <path>]

Reads each query's parquet dump (written by graft.Verify), runs the
corresponding oracle SQL from oracle_sql.json in DuckDB over the same
testdata parquet tables, and compares: schema (column names), row count,
and exact values (columns sorted by name, rows in emitted order and also
as sorted multisets — we require BOTH to match so either driver
convention passes).

With --json <path>, also writes the per-query result map in the driver's
CORRECTNESS_r{N}.json shape ({"rows_match","schema_match","hash_match",
"spark_rows","oracle_rows","err"}) — the self-produced correctness
artifact (VERDICT r15 #1); tools/self_correctness.sh orchestrates the
full Verify-then-compare run and commits it as CORRECTNESS_SELF.json.
"""
import sys, json, glob, os, math, time
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def main(sf_dir, out_dir, json_path=None):
    con = duckdb.connect()
    # Bounded-memory gate: the driver's DuckDB runs memory-constrained
    # (the round-8 v12 oracle OOM'd there while passing unbounded here),
    # so the local stand-in enforces a hard cap + a spill dir — an
    # oracle that needs more than this is a bug in the SQL's shape
    # (e.g. un-materialized CTE re-inlining), not a driver flake.
    con.execute("SET memory_limit='4GB'")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    results = {}
    detail = {}

    def rec(name, rows_m, schema_m, hash_m, s_rows, o_rows, err):
        detail[name] = {"rows_match": rows_m, "schema_match": schema_m,
                        "hash_match": hash_m, "spark_rows": s_rows,
                        "oracle_rows": o_rows, "err": err}

    elapsed = {}
    for name in sorted(oracle):
        t0 = time.monotonic()
        compare(con, name, oracle[name], out_dir, results, rec)
        elapsed[name] = time.monotonic() - t0
        v = results[name]
        mark = "✓" if v.startswith("OK") else "✗"
        print(f"{mark} {name}: {v} ({elapsed[name]:.1f} s)", flush=True)
    n_ok = sum(1 for v in results.values() if v.startswith("OK"))
    print("\n10 slowest:")
    for name in sorted(elapsed, key=elapsed.get, reverse=True)[:10]:
        print(f"  {elapsed[name]:8.1f} s  {name}")
    print(f"\n{n_ok}/{len(results)} oracle-checked queries pass")
    if json_path:
        with open(json_path, "w") as f:
            json.dump(detail, f, indent=2, sort_keys=True)
            f.write("\n")
        print(f"wrote {json_path} ({len(detail)} queries)")
    return 0 if n_ok == len(results) else 1


def compare(con, name, sql, out_dir, results, rec):
    """Compare one query's Spark output with its oracle SQL: the verdict
    goes to results[name], the per-query match record to rec(...)."""
    pq_dir = os.path.join(out_dir, name)
    if not glob.glob(os.path.join(pq_dir, "*.parquet")):
        results[name] = "MISSING spark output"
        rec(name, False, False, False, None, None, results[name])
        return
    try:
        spark_rel = con.execute(
            f"SELECT * FROM read_parquet('{pq_dir}/*.parquet')")
        spark_cols = [d[0] for d in spark_rel.description]
        spark_rows = spark_rel.fetchall()
    except Exception as e:
        results[name] = f"SPARK READ FAIL: {e}"
        rec(name, False, False, False, None, None, results[name])
        return
    try:
        duck_rel = con.execute(sql)
        duck_cols = [d[0] for d in duck_rel.description]
        duck_rows = duck_rel.fetchall()
    except Exception as e:
        results[name] = f"ORACLE SQL FAIL: {str(e)[:200]}"
        rec(name, False, False, False, len(spark_rows), None,
            results[name])
        return
    if sorted(spark_cols) != sorted(duck_cols):
        results[name] = f"SCHEMA MISMATCH spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
        rec(name, len(spark_rows) == len(duck_rows), False, False,
            len(spark_rows), len(duck_rows), results[name])
        return
    # reorder columns by sorted name
    sidx = [spark_cols.index(c) for c in sorted(spark_cols)]
    didx = [duck_cols.index(c) for c in sorted(duck_cols)]
    s = [tuple(norm(r[i]) for i in sidx) for r in spark_rows]
    d = [tuple(norm(r[i]) for i in didx) for r in duck_rows]
    if len(s) != len(d):
        results[name] = f"ROWCOUNT MISMATCH spark={len(s)} duck={len(d)}"
        rec(name, False, True, False, len(s), len(d), results[name])
        return
    # Driver-style pandas compare: a DuckDB HUGEINT output column
    # (e.g. an uncast SUM(BIGINT), or // over one) becomes float64 in
    # pandas and hash-mismatches the Spark int64 even when Python-level
    # values compare equal (the r03 x24 red row). Nullable BIGINT is
    # fine — both sides go float64 identically — so flag on the
    # declared DuckDB type, not the pandas dtype.
    try:
        bad_t = [r[0] for r in con.execute(f"DESCRIBE {sql}").fetchall()
                 if r[1] in ("HUGEINT", "UHUGEINT")
                 or r[1].startswith("DECIMAL")]
    except Exception:
        bad_t = []
    if bad_t:
        results[name] = f"DTYPE RISK: cols {bad_t} are {'HUGEINT/DECIMAL'} in DuckDB -> non-int64/f64 in a pandas compare (cast in oracle SQL)"
        rec(name, True, True, False, len(s), len(d), results[name])
        return
    if s == d:
        results[name] = "OK"
        rec(name, True, True, True, len(s), len(d), None)
    elif sorted(map(repr, s)) == sorted(map(repr, d)):
        results[name] = "OK-unordered (row order differs!)"
        rec(name, True, True, True, len(s), len(d), None)
    else:
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(s, d)) if a != b][:3]
        results[name] = f"VALUE MISMATCH first_diffs={bad}"
        rec(name, True, True, False, len(s), len(d),
            results[name][:300])


if __name__ == "__main__":
    argv = sys.argv[1:]
    jp = None
    if "--json" in argv:
        i = argv.index("--json")
        jp = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    sys.exit(main(argv[0], argv[1], jp))
