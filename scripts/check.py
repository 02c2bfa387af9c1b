#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: read Verify's parquet
dumps + oracle_sql.json, run each oracle in DuckDB over the same sf dir,
compare row count, schema (column names), values (rows sorted), AND
pandas dtypes.

The dtype check is the driver-faithful part: the driver hashes the
pandas materialization (`con.sql(sql).df()`), so an oracle column DuckDB
widens to HUGEINT (any uncast sum() over integers) becomes float64 in
pandas while Spark's parquet is int64 — identical values, different
hash. Two rounds of red queries (r4 arrays, r5 HUGEINT) passed the old
fetchall-based check; this version fails them locally:
  - any oracle result column whose DuckDB type is HUGEINT is an
    immediate LINT failure (the SQL must CAST the aggregate);
  - oracle-vs-spark pandas dtype *kinds* must agree per column
    (float vs int is the hazard; datetime tick resolution is not).

Usage: python3 scripts/check.py <sfDir> <verifyOutDir> [q1,q2,...]

The optional third argument (the same comma-separated list `graft.Verify`
takes) checks only those queries; a name with no oracle entry fails.
"""
import glob, json, math, sys
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver-style value hash: exact repr; we rounded upstream in both
        # engines, so doubles must be bit-identical here
        return repr(v)
    return repr(v)

def dtype_mismatches(exp_df, got_df):
    """Column-name-keyed dtype-kind comparison. Returns [(col, exp, got)].

    Kind-level ('f' vs 'i' vs 'O' vs 'M'...) is the driver-relevant
    granularity: the hash stringifies values, so int32 vs int64 (both
    'i', same str) is fine but float64 vs int64 ('f' vs 'i',
    '240000.0' vs '240000') is the entire r5 failure class.
    """
    bad = []
    for col in exp_df.columns:
        if col not in got_df.columns:
            continue  # schema check reports this separately
        ek, gk = exp_df[col].dtype.kind, got_df[col].dtype.kind
        if ek != gk:
            bad.append((col, str(exp_df[col].dtype), str(got_df[col].dtype)))
    return bad

def main(sf_dir, out_dir, only=None):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    if only is not None:
        for name in sorted(set(only) - oracle.keys()):
            print(f"FAIL {name}: no oracle entry")
            n_fail += 1
        oracle = {k: v for k, v in oracle.items() if k in only}
    for name, sql in sorted(oracle.items()):
        try:
            rel = con.sql(sql)
            exp_cols = [d[0] for d in rel.description]
            # LINT: DuckDB widens integer aggregates to HUGEINT; pandas
            # has no int128 and materializes float64 -> driver hash
            # mismatch even with equal values. The SQL must CAST.
            huge = [c for c, t in zip(rel.columns, rel.types)
                    if "HUGEINT" in str(t).upper()]
            if huge:
                print(f"FAIL {name}: LINT oracle columns {huge} are "
                      f"HUGEINT — wrap the aggregate in CAST(... AS BIGINT)")
                n_fail += 1
                continue
            # ONE execution per side: the oracle runs once into pandas
            # (the driver's materialization path) and rows are compared
            # from the same frames. itertuples yields numpy scalars —
            # their reprs differ from fetchall's python values but are
            # SYMMETRIC across both sides, which is all canon needs.
            # (The old rel.df()+rel.fetchall() pair re-executed every
            # oracle twice — 3x gate time on the heavy sf1 queries.)
            exp_df = rel.df()
            files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
            got_df = pd.concat([pd.read_parquet(f) for f in files],
                               ignore_index=True)
            got_cols = list(got_df.columns)
            exp = [t for t in exp_df.itertuples(index=False, name=None)]
            got = [t for t in got_df.itertuples(index=False, name=None)]
            # sort columns by name (driver semantics), then sort rows
            eidx = sorted(range(len(exp_cols)), key=lambda i: exp_cols[i])
            gidx = sorted(range(len(got_cols)), key=lambda i: got_cols[i])
            if sorted(exp_cols) != sorted(got_cols):
                print(f"FAIL {name}: schema exp={sorted(exp_cols)} got={sorted(got_cols)}")
                n_fail += 1
                continue
            dbad = dtype_mismatches(exp_df, got_df)
            if dbad:
                print(f"FAIL {name}: dtype mismatch (oracle vs spark): {dbad}")
                n_fail += 1
                continue
            if len(exp) != len(got):
                print(f"FAIL {name}: rows exp={len(exp)} got={len(got)}")
                n_fail += 1
                continue
            erows = sorted(tuple(canon(r[i]) for i in eidx) for r in exp)
            grows = sorted(tuple(canon(r[i]) for i in gidx) for r in got)
            if erows != grows:
                bad = [(e, g) for e, g in zip(erows, grows) if e != g][:3]
                print(f"FAIL {name}: values differ, first diffs: {bad}")
                n_fail += 1
            else:
                print(f"PASS {name} ({len(got)} rows)")
                n_pass += 1
        except Exception as e:
            print(f"ERROR {name}: {e}")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    only = [n for n in sys.argv[3].split(",") if n] if len(sys.argv) > 3 else None
    sys.exit(main(sys.argv[1], sys.argv[2], only))
