#!/usr/bin/env python3
"""Compare two `graft.Verify` output directories by decoded rows.

Parquet dumps are not byte-reproducible (the column-chunk encoding list
in the footer comes out in varying order), so a file hash cannot tell
two identical results apart. This script hashes each query's decoded
rows instead: the schema (column names and types) plus every row in
file order, over the dump's part files in name order. It also compares
`oracle_sql.json` and `_errors.json` as parsed JSON.

Usage: python3 scripts/verify_diff.py <dirA> <dirB> [q1,q2,...]

Without the third argument every query dumped on either side is
compared. Exits 1 on any difference (a query missing on one side
counts), 0 when everything matches.
"""
import glob, hashlib, json, math, os, sys
import pyarrow.parquet as pq


def canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in v.items()) + "}"
    return repr(v)


def rows_hash(qdir):
    """(row count, sha256 of schema + rows in file order) of one dump."""
    h = hashlib.sha256()
    n = 0
    parts = sorted(glob.glob(os.path.join(qdir, "*.parquet")))
    for i, part in enumerate(parts):
        t = pq.read_table(part)
        if i == 0:
            h.update(repr([(f.name, str(f.type)) for f in t.schema]).encode())
        for row in t.to_pylist():
            h.update(canon(row).encode())
            h.update(b"\n")
            n += 1
    return n, h.hexdigest()


def load_json(path):
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def main(a, b, only=None):
    def dumped(d):
        return {n for n in os.listdir(d)
                if os.path.isdir(os.path.join(d, n)) and not n.startswith("_")}
    names = sorted(only if only is not None else dumped(a) | dumped(b))
    diffs = 0
    for n in names:
        qa, qb = os.path.join(a, n), os.path.join(b, n)
        if not (os.path.isdir(qa) and os.path.isdir(qb)):
            print(f"MISSING {n}: A={os.path.isdir(qa)} B={os.path.isdir(qb)}")
            diffs += 1
            continue
        ra, rb = rows_hash(qa), rows_hash(qb)
        if ra != rb:
            print(f"DIFF    {n}: A rows={ra[0]} {ra[1][:16]}  "
                  f"B rows={rb[0]} {rb[1][:16]}")
            diffs += 1
        else:
            print(f"SAME    {n}: rows={ra[0]} {ra[1][:16]}")
    for f in ("oracle_sql.json", "_errors.json"):
        ja, jb = (load_json(os.path.join(d, f)) for d in (a, b))
        if ja != jb:
            keys = (set(ja or {}) ^ set(jb or {})) | {
                k for k in set(ja or {}) & set(jb or {}) if ja[k] != jb[k]}
            print(f"DIFF    {f}: {len(keys)} differing keys: "
                  f"{', '.join(sorted(keys)[:10])}")
            diffs += 1
        else:
            print(f"SAME    {f}: {len(ja or {})} keys")
    print(f"== {len(names)} queries compared, {diffs} difference(s)")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    only = ([n.strip() for n in sys.argv[3].split(",") if n.strip()]
            if len(sys.argv) == 4 else None)
    sys.exit(main(sys.argv[1], sys.argv[2], only))
