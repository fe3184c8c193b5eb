#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Runs each SparkEntry query result (already dumped by `graft.Verify` into
OUTDIR/<name>/ as parquet) against its DuckDB oracle SQL from
OUTDIR/oracle_sql.json, canonicalizes both result sets (columns sorted by
name, rows sorted), and compares values exactly.

Usage: python3 tools/check_oracle.py SFDIR OUTDIR

A query that graft.Verify recorded in OUTDIR/verify_failures.json fails
with Verify's reason (e.g. `corpus_absent: DIR` for an ETL query whose
corpus directory does not exist) instead of a DuckDB read error.

In addition to the value compare, result-column ARROW TYPES are compared
(with small equivalences: timestamp timezone variants unify; everything
else must match exactly). This is what catches the round-1 q23 failure
mode locally: DuckDB sum(INTEGER) yields HUGEINT/int128, which str()-based
value comparison masks but the driver's typed hash does not.
"""
import json, math, os, sys

import duckdb


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("NaN")
                else:
                    vals.append(repr(v))
            elif v is None:
                vals.append("\x00NULL")
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return [c for _, c in sorted(zip(range(len(cols)), [cols[i] for i in order]))], out


def main():
    # optional: --json PATH writes a CORRECTNESS_r{N}-style per-query
    # record (the sf0.1 cross-check artifact, r15 verdict ask #5)
    args = [a for a in sys.argv[1:]]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i:i + 2]
    sfdir, outdir = args[0], args[1]
    records = {}

    def record(name, **kw):
        r = {"rows_match": None, "schema_match": None, "hash_match": None,
             "spark_rows": None, "oracle_rows": None, "err": None}
        r.update(kw)
        records[name] = r

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracles = json.load(open(f"{outdir}/oracle_sql.json"))
    failures_path = f"{outdir}/verify_failures.json"
    failed = (json.load(open(failures_path))
              if os.path.exists(failures_path) else {})
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        if name in failed:
            reason = failed[name][:200]
            print(f"FAIL {name}: {reason}")
            record(name, err=reason)
            n_fail += 1
            continue
        try:
            got_tbl = con.execute(
                f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')").arrow()
            exp_tbl = con.execute(sql).arrow()
        except Exception as e:
            print(f"FAIL {name}: exec error: {str(e)[:200]}")
            record(name, err=f"exec: {str(e)[:200]}")
            n_fail += 1
            continue
        def typemap(tbl):
            def canon_t(t):
                ts = str(t)
                if ts.startswith("timestamp"):
                    return "timestamp"
                return ts
            return {f.name: canon_t(f.type) for f in tbl.schema}
        gt, et = typemap(got_tbl), typemap(exp_tbl)
        if gt != et and set(gt) == set(et):
            bad = {k: (gt[k], et[k]) for k in gt if gt[k] != et[k]}
            print(f"FAIL {name}: column types differ (spark vs duck): {bad}")
            record(name, schema_match=False, err=f"types: {bad}")
            n_fail += 1
            continue
        got_rows = [tuple(r.values()) for r in got_tbl.to_pylist()]
        got_cols = got_tbl.schema.names
        exp_rows = [tuple(r.values()) for r in exp_tbl.to_pylist()]
        exp_cols = exp_tbl.schema.names
        _, g = canon(got_rows, got_cols)
        _, e = canon(exp_rows, exp_cols)
        if sorted(got_cols) != sorted(exp_cols):
            print(f"FAIL {name}: columns {sorted(got_cols)} vs {sorted(exp_cols)}")
            record(name, schema_match=False, spark_rows=len(g),
                   oracle_rows=len(e))
            n_fail += 1
        elif g == e:
            print(f"PASS {name} ({len(g)} rows)")
            record(name, rows_match=True, schema_match=True, hash_match=True,
                   spark_rows=len(g), oracle_rows=len(e))
            n_pass += 1
        else:
            print(f"FAIL {name}: rows {len(g)} vs {len(e)}")
            diff_g = [r for r in g if r not in set(e)][:3]
            diff_e = [r for r in e if r not in set(g)][:3]
            print(f"  only-spark: {diff_g}")
            print(f"  only-duck : {diff_e}")
            record(name, rows_match=(len(g) == len(e)), schema_match=True,
                   hash_match=False, spark_rows=len(g), oracle_rows=len(e))
            n_fail += 1
    # queries dumped WITHOUT oracle SQL: record them the way the
    # driver's artifact does (err=no_oracle, rows-only), so the local
    # replica's counts line up with CORRECTNESS_r{N}.json's
    for d in sorted(os.listdir(outdir)):
        if d in oracles or not os.path.isdir(f"{outdir}/{d}"):
            continue
        try:
            n = con.execute(
                f"SELECT count(*) FROM read_parquet('{outdir}/{d}/*.parquet')"
            ).fetchone()[0]
        except Exception:
            n = None
        record(d, spark_rows=n, err="no_oracle")
        print(f"SKIP {d}: no_oracle ({n} rows)")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(records, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
