#!/usr/bin/env python3
"""check_oracle with a per-query wall budget: quadratic DuckDB
oracles that can't finish in `budget` seconds at this SF are reported
SLOW-SKIP instead of hanging the sweep. The comparator itself is
IMPORTED from check_oracle.py — one gate implementation, two
front-ends. Used for cross-SF sweeps at sf0.1, where a handful of
intentionally-quadratic DuckDB verifier spellings (recursive-CTE
components, all-pairs shingle joins) are minutes-slow in the oracle
engine even though the Spark side is fine.
Usage: check_oracle_budget.py SFDIR OUTDIR BUDGET_SECONDS [query...]
(extra args restrict the sweep to the named queries; unknown names
are an error, not a silent no-op)
"""
import json
import multiprocessing as mp
import os
import sys


def one(args):
    sfdir, outdir, name, sql = args
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import check_oracle
    try:
        con = check_oracle.connect(sfdir)
        return (name,) + check_oracle.compare_query(con, outdir, name, sql)
    except Exception as e:  # one query's crash must not abort the sweep
        return (name, "FAIL", f"WORKER-ERROR {str(e)[:120]}")


def main(sfdir, outdir, budget, only=()):
    with open(f"{outdir}/oracle_sql.json") as f:
        oracles = json.load(f)
    # the queries Verify ran, not the output dirs: a query that threw
    # has no dir and fails (OUTPUT-READ-ERROR) instead of going unchecked
    available = sorted(oracles)
    unknown = [n for n in only if n not in available]
    if unknown:
        print(f"UNKNOWN QUERY NAME(S): {','.join(unknown)} — "
              f"not in {outdir}/oracle_sql.json", file=sys.stderr)
        return 1
    names = [n for n in available if not only or n in only]
    bad = 0
    ok = 0
    slow = []
    for name in names:
        p = mp.Pool(1)
        r = p.map_async(one, [(sfdir, outdir, name, oracles.get(name))])
        try:
            [(n, status, msg)] = r.get(timeout=budget)
        except mp.TimeoutError:
            p.terminate()
            p.join()
            slow.append(name)
            continue
        p.terminate()
        p.join()
        if status in ("OK", "ROWS-ONLY"):
            ok += 1
        else:
            bad += 1
            print(f"{n:26s} {msg}", flush=True)
    print(f"OK {ok}; SLOW-SKIP ({len(slow)}): {','.join(slow)}")
    print("PASS" if bad == 0 else f"FAIL ({bad})")
    return bad


if __name__ == "__main__":
    sys.exit(1 if main(sys.argv[1], sys.argv[2], int(sys.argv[3]),
                       tuple(sys.argv[4:])) else 0)
