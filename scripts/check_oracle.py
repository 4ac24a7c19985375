#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Runs DuckDB on the oracle SQL emitted by graft.Verify and compares each
query's result against the parquet Spark wrote, mimicking the driver:
sort columns by name, sort rows, compare values.

Usage: check_oracle.py <sfDir> <verifyOutDir>
(Dev tool only — the product library has no Python dependency.)
"""
import json
import math
import sys
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float) and math.isnan(v):
                v = "NaN"
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [c for c in sorted(cols)], out


def connect(sf_dir):
    con = duckdb.connect()
    # big-scale sweeps (sf0.1/sf1) need explicit spill space; per-query
    # buffers otherwise fail with "bad allocation" despite free RAM
    con.execute("SET temp_directory='/tmp/duckdb_swap'")
    # sharded sweep workers cap their buffer pool so N parallel
    # connections fit the box (GRAFT_ORACLE_MEMLIMIT, e.g. '12GB')
    import os
    mem = os.environ.get("GRAFT_ORACLE_MEMLIMIT")
    if mem:
        con.execute(f"SET memory_limit='{mem}'")
    for t in TABLES:
        # driver testdata ships single files; Spark-generated scale dirs
        # (tools/GenData) are directories of part files — glob those. Both
        # share graft.Tables' declared schemas, so the views need no type
        # fixups (events.ts and the date columns are TIMESTAMP either way).
        p = Path(sf_dir, f"{t}.parquet")
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def main(sf_dir, out_dir):
    con = connect(sf_dir)
    oracle = json.loads(Path(out_dir, "oracle_sql.json").read_text())
    # GRAFT_ORACLE_SKIP=q93,q119,... — substring match, for sweeps at
    # scales where a specific oracle SQL exhausts DuckDB resources (the
    # sf1 q93/q111/q119/q196 class, each carrying a checksum evidence
    # twin). Skipped rows are reported, never counted as passes.
    import os
    skip = [s for s in os.environ.get("GRAFT_ORACLE_SKIP", "").split(",")
            if s]
    # GRAFT_ORACLE_SHARD=i/n — process only names with hash(name)%n==i,
    # so a big sweep can run as n parallel workers over disjoint subsets
    shard = os.environ.get("GRAFT_ORACLE_SHARD")
    si, sn = (0, 1)
    if shard:
        si, sn = (int(x) for x in shard.split("/"))
    failed = []
    done = 0
    skipped = 0
    names = [n for i, n in enumerate(sorted(oracle)) if i % sn == si]
    for name in names:
        if any(s in name for s in skip):
            print(f"SKIP {name} (GRAFT_ORACLE_SKIP)", flush=True)
            skipped += 1
            continue
        # fresh connection periodically: one long-lived connection
        # accumulates buffer/fd state across 150+ heavy queries and
        # starts failing spuriously at sf0.1+ (observed: bad-allocation
        # errors with >100 GB host RAM free)
        done += 1
        if done % 25 == 0:
            con.close()
            con = connect(sf_dir)
        sql = oracle[name]
        spark_dir = Path(out_dir, name)
        if not spark_dir.exists():
            print(f"FAIL {name}: no Spark output")
            failed.append(name)
            continue
        # GRAFT_ORACLE_TIMEOUT=<seconds>: interrupt any single oracle
        # SQL that exceeds the budget (sweep runs at sf1 — one hog must
        # not absorb the whole sweep). Interrupted rows FAIL with a
        # timeout note; the connection stays usable for the next row.
        t_budget = float(os.environ.get("GRAFT_ORACLE_TIMEOUT", "0") or 0)
        timer = None
        try:
            if t_budget > 0:
                import threading
                timer = threading.Timer(t_budget, con.interrupt)
                timer.start()
            import time
            t0 = time.time()
            duck = con.execute(sql)
            dcols = [c[0] for c in duck.description]
            drows = duck.fetchall()
        except Exception as e:
            took = time.time() - t0
            note = (f"TIMEOUT after {took:.0f}s" if t_budget and
                    took >= t_budget - 1 else f"oracle SQL error: {e}")
            print(f"FAIL {name}: {note}", flush=True)
            failed.append(name)
            continue
        finally:
            if timer is not None:
                timer.cancel()
        try:
            sp = con.execute(
                f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
            scols = [c[0] for c in sp.description]
            srows = sp.fetchall()
        except Exception as e:
            print(f"FAIL {name}: spark parquet read error: {e}")
            failed.append(name)
            continue
        dc, dr = normalize(drows, dcols)
        sc, sr = normalize(srows, scols)
        if dc != sc:
            print(f"FAIL {name}: columns differ: spark={sc} duck={dc}")
            failed.append(name)
            continue
        if len(dr) != len(sr):
            print(f"FAIL {name}: row count spark={len(sr)} duck={len(dr)}")
            failed.append(name)
            continue
        bad = None
        for i, (a, b) in enumerate(zip(sr, dr)):
            if not rows_equal(a, b):
                bad = (i, a, b)
                break
        if bad:
            print(f"FAIL {name}: first diff at sorted row {bad[0]}:")
            print(f"  spark: {bad[1]}")
            print(f"  duck : {bad[2]}")
            failed.append(name)
        else:
            print(f"PASS {name} ({len(sr)} rows)")
    note = f" ({skipped} skipped)" if skipped else ""
    print(f"\n{len(names) - len(failed) - skipped}/{len(names)} "
          f"passed{note}")
    return 1 if failed else 0


def rows_equal(a, b):
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if x == y:
            continue
        # exact value compare across numeric types (int vs Decimal etc.)
        try:
            import decimal
            if isinstance(x, (int, float, decimal.Decimal)) and \
               isinstance(y, (int, float, decimal.Decimal)):
                if float(x) == float(y):
                    continue
        except Exception:
            pass
        return False
    return True


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
