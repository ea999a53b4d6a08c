#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate (dev tool only — the
engine itself is pure Scala/Spark; this script never ships).

Usage: python3 tools/selfcheck.py <sfdir> <outdir> [--skip-verify] [names...]

1. sbt "runMain graft.Verify <sfdir> <outdir>"   (unless --skip-verify)
2. For each query: run its oracle SQL in DuckDB over views named after
   the parquet tables, load the Spark parquet result, sort columns by
   name + rows by value, and compare cell-for-cell.
"""
import json
import os
import subprocess
import sys

import duckdb
import pandas as pd

# The checkout this script lives in (tools/..), so the check runs
# against whichever copy of the repository it was invoked from.
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sfdir, outdir = args[0], args[1]
    only = set(args[2:])
    # --timeout=N: per-oracle DuckDB budget in seconds (sf1-scale
    # sweeps: an unrolled greedy oracle that is 14 s at sf0.1 can be
    # hours at n=20000; interrupt it, record the exclusion, move on).
    timeout = None
    for a in sys.argv[1:]:
        if a.startswith("--timeout="):
            timeout = float(a.split("=", 1)[1])
    if "--skip-verify" not in sys.argv:
        # Forward the name filter to Verify so a one-query selfcheck
        # dumps one parquet, not the full suite.
        names = " ".join(sorted(only))
        r = subprocess.run(
            ["sbt", f'runMain graft.Verify {sfdir} {outdir} {names}'.strip()],
            capture_output=True, text=True, cwd=REPO_ROOT)
        if r.returncode != 0:
            print(r.stdout[-4000:], r.stderr[-4000:])
            sys.exit(1)

    def fresh_con(old=None):
        # One place builds (and rebuilds) the connection + views: a
        # fired interrupt poisons the shared connection for the NEXT
        # oracle, so it must be closed and replaced.
        if old is not None:
            try:
                old.close()
            except Exception:
                pass
        c = duckdb.connect()
        for t in TABLES:
            c.sql(f"CREATE VIEW {t} AS FROM "
                  f"read_parquet('{sfdir}/{t}.parquet')")
        return c

    con = fresh_con()
    oracles = json.load(open(f"{outdir}/oracle_sql.json"))
    ok = fail = timedout = 0
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        # Timer races are real: arm it ONLY around the oracle query,
        # record firing in a flag (a late fire must not be read as a
        # query failure), and REBUILD the connection after any fire —
        # a pending interrupt on the shared connection would poison
        # the NEXT oracle otherwise.
        fired = [False]
        timer = None
        if timeout:
            import threading
            def _fire(c=con):
                fired[0] = True
                c.interrupt()
            timer = threading.Timer(timeout, _fire)
            timer.start()
        try:
            want = canon(con.sql(sql).df())
        except Exception as e:
            if timer:
                timer.cancel()
            if fired[0]:
                # A deliberate scale-sweep exclusion, not a failure:
                # record it in its own counter so the gate line still
                # reads "0 fail" when every comparable oracle passed.
                print(f"TIMEOUT {name}: oracle exceeded {timeout}s")
                timedout += 1
                con = fresh_con(con)
            else:
                print(f"FAIL {name}: {e}")
                fail += 1
            continue
        finally:
            if timer:
                timer.cancel()
        if fired[0]:
            # fired between completion and cancel: result is good,
            # but the interrupt may still be pending — fresh conn.
            con = fresh_con(con)
        try:
            got = canon(con.sql(
                f"FROM read_parquet('{outdir}/{name}/*.parquet')").df())
        except Exception as e:
            print(f"FAIL {name}: {e}")
            fail += 1
            continue
        if list(want.columns) != list(got.columns):
            print(f"FAIL {name}: cols want={list(want.columns)} got={list(got.columns)}")
            fail += 1
        elif len(want) != len(got):
            print(f"FAIL {name}: rows want={len(want)} got={len(got)}")
            fail += 1
        elif not want.equals(got):
            neq = (want != got) & ~(want.isna() & got.isna())
            print(f"FAIL {name}: {int(neq.any(axis=1).sum())} differing rows")
            diffrows = neq.any(axis=1)
            print("want:", want[diffrows].head(3).to_string())
            print("got: ", got[diffrows].head(3).to_string())
            fail += 1
        else:
            print(f"PASS {name} ({len(want)} rows)")
            ok += 1
    tmo = f", {timedout} timeout" if timedout else ""
    if timedout:
        # Timeouts are EXCLUSIONS, not passes: they keep the fail
        # gate green for deliberate scale sweeps, but a previously
        # fast oracle showing up here is a regression — the names
        # print loudly so a reader cannot mistake one for coverage.
        print("   timeout exclusions above are NOT verified results")
    print(f"== {ok} pass, {fail} fail{tmo} ==")
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
