#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py [seed ...]      (default seeds: 1 2)

From the root of a checkout, runs every workload of BENCHMARK.json with
--trace 0 and --trace 1 under each seed. It checks that each result
reports every metric with its unit and that the output checks found no
failure beyond the ledger. Both workloads already run at sf0.001 size.
Exits non-zero on the first problem.
"""
import json
import subprocess
import sys
from pathlib import Path

spec = json.loads(Path("BENCHMARK.json").read_text())
seeds = [int(s) for s in sys.argv[1:]] or [1, 2]
problems = 0
for w in spec["workloads"]:
    for seed in seeds:
        for trace, metrics in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            r = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w["name"], "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", str(trace)],
                stdout=subprocess.PIPE, text=True)
            lines = r.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if r.returncode == 0 and lines else None
            bad = []
            if result is None:
                bad.append(f"exit {r.returncode}, no result")
            else:
                if set(result) != {"correct", "attempted", "failed", "metrics"}:
                    bad.append(f"keys {sorted(result)}")
                if not result["correct"] or result["failed"] or result["attempted"] < 1:
                    bad.append(f"correct={result['correct']} failed={result['failed']}")
                got = result["metrics"]
                for m in metrics:
                    v = got.get(m["name"])
                    if v is None or v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
                        bad.append(f"metric {m['name']}: {v}")
                extra = set(got) - {m["name"] for m in metrics}
                if extra:
                    bad.append(f"unlisted metrics {sorted(extra)}")
            status = "ok" if not bad else "FAIL " + "; ".join(bad)
            print(f"{w['name']} seed={seed} trace={trace}: {status}", flush=True)
            problems += bool(bad)
sys.exit(1 if problems else 0)
