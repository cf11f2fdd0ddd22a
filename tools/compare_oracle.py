#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB-oracle correctness check.

Usage: python3 tools/compare_oracle.py <sfDir> <verifyOutDir> [shard/of]

Optional "k/n" third argument runs only every n-th query starting at
k (0-based) — launch n processes with k = 0..n-1 and sum their tail
counts for a parallel full-slate compare (the big-SF self-check; the
heavy all-pairs levenshtein oracles bound one shard's wall).

For each query dir under verifyOutDir: load the Spark parquet result,
run the corresponding oracle SQL from oracle_sql.json in DuckDB (with
views for each testdata table), sort columns by name and rows by value,
and compare cell-by-cell (exact for ints/strings/bools/dates, exact for
floats too — the engine is expected to produce bit-identical numerics).

An oracle that raises (for example a guard the oracle SQL itself
checks) prints `REFUSED <query>: <first line of the error>` and the run
goes on. The tail line is `P/A passed (R refused)`; the exit status is
non-zero when any query FAILs or is REFUSED.
"""
import json, math, sys, glob, os
import duckdb

sf_dir, out_dir = sys.argv[1], sys.argv[2]
shard, nshards = (0, 1)
if len(sys.argv) > 3:
    shard, nshards = map(int, sys.argv[3].split("/"))


def fresh_connection():
    """One connection per batch of queries. A single long-lived
    connection accumulates mmap'd allocator blocks across the heavy
    Lloyd-replay oracles (observed ~17k VMAs per IVF/PQ query); past
    vm.max_map_count (65530 default) mmap fails and DuckDB dies with
    'Out of Memory Error ... (bad allocation)' despite ~120 GB free.
    Reconnecting releases the maps; capped threads bound the spike."""
    c = duckdb.connect()
    c.execute("SET threads=8")
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(p)[:-len(".parquet")]
        c.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return c


con = fresh_connection()
done_since_reconnect = 0

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fails = 0
refused = 0
attempted = 0
for qi, (name, sql) in enumerate(sorted(oracle.items())):
    if qi % nshards != shard:
        continue
    attempted += 1
    if done_since_reconnect >= 20:
        con.close()
        con = fresh_connection()
        done_since_reconnect = 0
    done_since_reconnect += 1
    res_dir = f"{out_dir}/{name}"
    if not os.path.isdir(res_dir):
        print(f"FAIL {name}: no spark result dir"); fails += 1; continue
    got = con.execute(
        f"SELECT * FROM '{res_dir}/*.parquet'").df()
    try:
        exp = con.execute(sql).df()
    except Exception as e:  # noqa: BLE001 — any oracle error is a refusal
        first = (str(e).strip().splitlines() or [type(e).__name__])[0]
        print(f"REFUSED {name}: {first}")
        refused += 1
        # reconnect, so the failed statement leaves no state behind
        con.close()
        con = fresh_connection()
        done_since_reconnect = 0
        continue
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        print(f"FAIL {name}: columns {list(got.columns)} vs {list(exp.columns)}")
        fails += 1; continue
    if len(got) != len(exp):
        print(f"FAIL {name}: rows {len(got)} vs {len(exp)}"); fails += 1; continue
    gs = got.sort_values(by=list(got.columns), na_position="first").reset_index(drop=True)
    es = exp.sort_values(by=list(exp.columns), na_position="first").reset_index(drop=True)
    bad = None
    for c in gs.columns:
        for i, (a, b) in enumerate(zip(gs[c], es[c])):
            if a is None and b is None:
                continue
            if isinstance(a, float) and isinstance(b, float):
                if math.isnan(a) and math.isnan(b):
                    continue
                if a != b:
                    bad = (c, i, a, b); break
            elif str(a) != str(b):
                bad = (c, i, a, b); break
        if bad: break
    # dtype check (schema parity)
    dt_mismatch = [(c, str(gs[c].dtype), str(es[c].dtype))
                   for c in gs.columns if str(gs[c].dtype) != str(es[c].dtype)]
    if bad:
        print(f"FAIL {name}: col={bad[0]} row={bad[1]} spark={bad[2]!r} oracle={bad[3]!r}")
        fails += 1
    elif dt_mismatch:
        print(f"WARN {name}: dtype mismatch {dt_mismatch} (values match)")
        print(f"PASS {name} ({len(gs)} rows, dtype-warn)")
    else:
        print(f"PASS {name} ({len(gs)} rows)")
print(f"\n{attempted - fails - refused}/{attempted} passed ({refused} refused)")
sys.exit(1 if fails or refused else 0)
