#!/usr/bin/env python3
"""Local pre-check that mimics the driver's DuckDB-oracle compare.

Usage: python3 tools/check_oracle.py /tmp/verify_out /root/testdata/sf0.01

For each query dir under outDir: read the Spark parquet result, run the
oracle SQL from oracle_sql.json in DuckDB (tables registered as views over
the sf parquet files), sort columns by name, and compare values.
This is a local dev tool only — the engine itself never depends on it.
"""
import sys, os, json, glob, math
import duckdb

def norm(v):
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return v
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, norm(x)) for k, x in sorted(v.items()))
    return v

def table(rel):
    cols = rel.columns
    types = [str(t) for t in rel.types]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = rel.fetchall()
    return ([cols[i] for i in order], [types[i] for i in order],
            [tuple(norm(r[i]) for i in order) for r in rows])

def host_limits():
    """DuckDB's defaults (80% of RAM, every core) let one pass take the
    whole host; cap it at half the memory available now and half the
    cores this process may run on."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemAvailable:"))
    return {"memory_limit": f"{kb // 2 // 1024}MB",
            "threads": max(1, len(os.sched_getaffinity(0)) // 2)}

def main(out_dir, sf_dir, only=()):
    con = duckdb.connect(config=host_limits())
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"MISSING RESULT  {name}"); n_bad += 1; continue
        try:
            scols, stypes, srows = table(con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'"))
            ocols, otypes, orows = table(con.sql(sql))
        except Exception as e:
            print(f"ERROR  {name}: {e}"); n_bad += 1; continue
        if scols != ocols:
            print(f"SCHEMA MISMATCH  {name}: spark={scols} oracle={ocols}"); n_bad += 1; continue
        if stypes != otypes:
            # The driver's hash is type-sensitive (e.g. DuckDB sum() widening
            # BIGINT -> HUGEINT flips the hash even when every value matches),
            # so a type gap here is a real red row, not cosmetics.
            pairs = [(c, a, b) for c, a, b in zip(scols, stypes, otypes) if a != b]
            print(f"TYPE MISMATCH  {name}: {pairs}"); n_bad += 1; continue
        if len(srows) != len(orows):
            print(f"ROWCOUNT MISMATCH  {name}: spark={len(srows)} oracle={len(orows)}"); n_bad += 1; continue
        if srows != orows:
            diffs = [(i, a, b) for i, (a, b) in enumerate(zip(srows, orows)) if a != b]
            print(f"VALUE MISMATCH  {name}: {len(diffs)} differing rows; first: {diffs[0] if diffs else '?'}")
            n_bad += 1; continue
        print(f"OK  {name}  ({len(srows)} rows)")
        n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} bad")
    sys.exit(1 if n_bad else 0)

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], set(sys.argv[3:]))
