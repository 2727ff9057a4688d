#!/usr/bin/env python3
"""Benchmark of the graft pipeline engine, driven the way a user drives it.

    python3 perfbench/run.py --workload <curate|etl|examples|stream> \
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It compiles the program and the
harness (perfbench/src) with the Scala compiler that ships in Spark's jars,
generates the workload's inputs from the seed (cached per seed), and then
runs passes, each in a fresh JVM: set up the session, then `graft check`
and `graft run` per config, then check every sink's output. It prints
one JSON object as the last line of stdout. With --trace 0 it reports
the end-to-end metrics of BENCHMARK.json; with --trace 1 it makes one
traced pass and reports the per-layer metrics.
Build output, data, logs and traces go to .bench_build/ in the checkout;
perfbench/README.md describes the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import tomllib
from pathlib import Path

ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
MB = 1024.0 * 1024.0

# Each run finishes within 180 s; no pass starts that would end past this.
RUN_BUDGET_S = 165.0
MAX_PASSES = 9
KEEP_DATA_PER_WORKLOAD = 3

WORKLOADS = {
    "curate": ["configs/curate/corpus_clean.toml"],
    "etl": ["configs/etl/etl_enrich.toml", "configs/etl/etl_rollup.toml"],
    "stream": ["configs/stream/stream_dedup.toml"],
    "examples": None,  # every examples/*.toml of the checkout
}
# Repetitions of the workload's configs in one pass JVM. The first pays
# the JVM's warm-up; the times reported are medians over the others. An
# examples repetition takes ~45 s, and a second stream repetition would
# find its landing directory consumed, so those run once.
REPEATS = {"curate": 4, "etl": 3, "stream": 1, "examples": 1}
# `graft check` calls per config and repetition, of which the median
# counts: a warm curate check takes ~0.4 s, too short for one sample to
# be steady on a shared host.
CHECKS = {"curate": 5, "etl": 1, "stream": 1, "examples": 1}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the build's unmanagedBase."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(Path(os.environ["SPARK_HOME"]) / "jars")
    build = ROOT / "build.sbt"
    if build.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build.read_text())
        if m:
            cands.append(Path(m.group(1)))
    for c in cands:
        if c.is_dir() and list(c.glob("scala-compiler-*.jar")):
            return sorted(c.glob("*.jar"))
    fail("no Spark jars with a Scala compiler found (set SPARK_HOME)")


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir() or not (ROOT / "examples").is_dir():
        fail(f"{ROOT} is not a checkout of the program (src/main/scala and examples/ missing)")
    return sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def build(jars):
    """Compiles program + harness once per source state; returns the classpath."""
    files = sources()
    resources = ROOT / "src" / "main" / "resources"
    h = hashlib.sha256()
    for f in files + sorted(p for p in resources.rglob("*") if p.is_file()):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD / "classes" / h.hexdigest()[:16]
    cp = [str(out), str(resources)] + [str(j) for j in jars]
    if out.is_dir():
        return cp
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jar_cp = os.pathsep.join(str(j) for j in jars)
    args = BUILD / "scalac.args"
    args.write_text("\n".join(str(f) for f in files) + "\n")
    log(f"compiling {len(files)} Scala files")
    t = time.monotonic()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jar_cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(tmp), "-classpath", jar_cp, f"@{args}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    tmp.rename(out)
    log(f"compiled in {time.monotonic() - t:.1f} s")
    return cp


def java(cp, main, args, cwd, log_file, timeout):
    """One fresh JVM; returns its stdout. Raises on a non-zero exit."""
    tmp = cwd / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = str(tmp)
    env.pop("SPARK_MASTER", None)
    cmd = (["java", *ADD_OPENS, "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join(cp), main] + [str(a) for a in args])
    with open(log_file, "w") as err:
        r = subprocess.run(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=err,
                           text=True, timeout=max(timeout, 1.0))
    if r.returncode != 0:
        raise RuntimeError(f"{main} exited {r.returncode}; see {log_file}")
    return r.stdout


def generate(cp, workload, seed, deadline):
    """Inputs for (workload, seed), cached per seed and build. The
    generator's JVM sets up a session first, and its set-up time is one
    `setup_s` sample; with the inputs cached it only sets up. Returns
    (data dir, setup_s)."""
    if workload == "examples":
        key, seed = "examples", 1  # fixed inputs: the seed does not apply
    else:
        key = f"{workload}-{seed}"
    root = BUILD / "data" / Path(cp[0]).name
    for stale in (p for p in root.parent.glob("*") if p != root):
        shutil.rmtree(stale, ignore_errors=True)
    out = root / key
    cached = (out / "meta.json").is_file()
    if cached:
        os.utime(out)
    else:
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        log(f"generating inputs for {key}")
    probe = BUILD / "probe"
    probe.mkdir(parents=True, exist_ok=True)
    stdout = java(cp, "graftbench.Gen", [out, "probe" if cached else workload, seed],
                  probe, probe / "gen.log", deadline - time.monotonic())
    shutil.rmtree(probe, ignore_errors=True)
    olds = sorted((p for p in root.glob(f"{workload}-*") if p != out),
                  key=lambda p: p.stat().st_mtime)
    for p in olds[:max(0, len(olds) - KEEP_DATA_PER_WORKLOAD + 1)]:
        shutil.rmtree(p, ignore_errors=True)
    return out, float(re.search(r"GEN_SETUP_S=([0-9.]+)", stdout).group(1))


def stage(workload, data, work):
    """Copies the workload's configs into a fresh directory, pointed at the data."""
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    staged = []
    if workload == "examples":
        src = ROOT / "examples"
        if (src / "plugins").is_dir():
            shutil.copytree(src / "plugins", work / "plugins")
        for cfg in sorted(src.glob("*.toml")):
            text = re.sub(r'"[^"]*/(sf0\.0+1)/(\w+\.parquet)"',
                          lambda m: json.dumps(str(data / "data" / m.group(1) / m.group(2))),
                          cfg.read_text())
            (work / cfg.name).write_text(text)
            staged.append(work / cfg.name)
        # streaming.toml's header: stage one events file in landing/
        (work / "landing").mkdir()
        shutil.copy(data / "data" / "sf0.001" / "events.parquet", work / "landing")
    else:
        for rel in WORKLOADS[workload]:
            cfg = BENCH / rel
            (work / cfg.name).write_text(cfg.read_text().replace("@DATA@", str(data / "data")))
            staged.append(work / cfg.name)
    return staged


def input_rows(cfg, data):
    """Rows in a staged config's generated parquet inputs."""
    tables = json.loads((data / "meta.json").read_text())["tables"]
    rows = {(data / "data" / k).resolve(): v["rows"] for k, v in tables.items()}
    total = 0
    for p in tomllib.loads(cfg.read_text()).get("input_plugins", []):
        path = p.get("options", {}).get("input_path")
        if p.get("module") in ("parquet_scan", "parquet_stream_scan") and path:
            total += rows.get((cfg.parent / path).resolve(), 0)
    return total


def iteration(cp, workload, seed, data, idx, traced, deadline):
    work = BUILD / "work" / f"{workload}-{seed}-{idx}"
    configs = stage(workload, data, work)
    result = work / "result.json"
    clusters = data / "truth" / "clusters" if workload == "curate" else "-"
    java(cp, "graftbench.Drive",
         ["1" if traced else "0", result, clusters, REPEATS[workload], CHECKS[workload], *configs],
         work, work / "drive.log", deadline - time.monotonic())
    res = json.loads(result.read_text())
    ran = {c["name"] for c in res["repetitions"][-1] if c["run"]["rc"] == 0}
    res["input_rows"] = sum(input_rows(c, data) for c in configs if c.stem in ran)
    spans = work / "result.spans.json"
    if traced and spans.is_file():
        dest = BUILD / "trace" / f"{workload}-{seed}.json"
        dest.parent.mkdir(parents=True, exist_ok=True)
        dest.write_text(json.dumps({"layers": res["layers"],
                                    "spans": json.loads(spans.read_text())}))
    shutil.rmtree(work, ignore_errors=True)
    return res


def same_digest(a, b):
    if a["rows"] != b["rows"] or a["hash"] != b["hash"] or a["floats"].keys() != b["floats"].keys():
        return False
    for k, x in a["floats"].items():
        y = b["floats"][k]
        if x is None or y is None:
            if x is not y:
                return False
        elif abs(x - y) > 1e-9 * max(abs(x), abs(y)) and x != y:
            return False
    return True


class Checker:
    """Expected outcome of every check/run and of every sink's content."""

    def __init__(self, workload, data):
        self.ledger = json.loads((BENCH / "ledger.json").read_text())["known_failures"].get(workload, {})
        oracle = data / "truth" / "oracle.json"
        self.expected = json.loads(oracle.read_text()) if oracle.is_file() else {}
        if workload == "examples":
            self.expected = json.loads((BENCH / "expected" / "examples.json").read_text())
        self.seen = {}
        self.attempted = 0
        self.failed = 0
        self.ops = {"check": [0, 0], "run": [0, 0]}  # attempted, failed (any cause)

    def problem(self, msg):
        self.failed += 1
        log(f"CHECK FAILED: {msg}")

    def outcome(self, cfg, op, o):
        self.attempted += 1
        self.ops[op][0] += 1
        if o["rc"] == 0:
            if op in self.ledger.get(cfg, {}):
                log(f"ledger item now passes: {cfg} {op}")
            return True
        self.ops[op][1] += 1
        want = self.ledger.get(cfg, {}).get(op)
        if want is None or want not in o["error"]:
            self.problem(f"{cfg} {op} failed: {o['error'][:300]}")
        return False

    def sink(self, s):
        key, d = s["key"], s["digest"]
        if d is None:
            return self.problem(f"{key}: output unreadable")
        prev = self.seen.setdefault(key, d)
        if not same_digest(prev, d):
            self.problem(f"{key}: output differs between iterations")
        if key in self.expected and not same_digest(self.expected[key], d):
            self.problem(f"{key}: output {d} != expected {self.expected[key]}")
        c = s.get("curate")
        if c is not None:
            bad = {k: v for k, v in c.items() if k != "rows" and k != "clusters" and v != 0}
            if c["rows"] == 0 or c["clusters"] != c["rows"] or bad:
                self.problem(f"{key}: curated corpus invariants broken: {c}")
        elif key not in self.expected and d["rows"] == 0:
            self.problem(f"{key}: empty output")

    def iteration(self, res):
        for rep in res["repetitions"]:
            for c in rep:
                self.outcome(c["name"], "check", c["check"])
                self.outcome(c["name"], "run", c["run"])
        for c in res["configs"]:
            for s in c["sinks"]:
                self.sink(s)


def summarize(res):
    """One pass: medians over its warm repetitions (all but the first,
    when there are several) of the summed run / check times of the
    workload's configs, and the success count of all repetitions."""
    cs = res["configs"]
    reps = res["repetitions"]
    warm = reps[1:] or reps
    ops = [o for rep in reps for c in rep for o in (c["run"], c["check"])]
    return {
        "run_s": statistics.median(sum(c["run"]["s"] for c in rep) for rep in warm),
        "check_s": statistics.median(sum(c["check"]["s"] for c in rep) for rep in warm),
        "ok": sum(o["rc"] == 0 for o in ops),
        "ops": len(ops),
        "input_rows": res["input_rows"],
        "out_bytes": sum(s["bytes"] for c in cs for s in c["sinks"]),
        "setup_s": res["setup_s"],
        "peak_rss_mb": res["peak_rss_mb"],
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=60)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").is_file() else None
    jars = spark_jars()
    cp = build(jars)
    if spec is None:
        fail("BENCHMARK.json missing")
    # a run ends within 180 s of the build being ready
    deadline = time.monotonic() + 175.0
    budget_end = deadline - (175.0 - RUN_BUDGET_S)
    data, gen_setup = generate(cp, a.workload, a.seed, deadline)
    checker = Checker(a.workload, data)

    # Untraced passes until --seconds have passed, at least one. A traced
    # run makes only the traced pass; the base of trace.overhead_frac is
    # the untraced passes recorded in this checkout (same seed first),
    # or one untraced pass made here if there are none.
    history = BUILD / "results" / Path(cp[0]).name / f"{a.workload}.jsonl"
    history.parent.mkdir(parents=True, exist_ok=True)
    recorded = [json.loads(l) for l in history.read_text().splitlines()] if history.is_file() else []
    plain = []
    t_measure = time.monotonic()
    while not (a.trace and recorded):
        res = iteration(cp, a.workload, a.seed, data, len(plain), False, deadline)
        checker.iteration(res)
        plain.append(summarize(res))
        with history.open("a") as h:
            h.write(json.dumps({"seed": a.seed, "run_s": plain[-1]["run_s"]}) + "\n")
        now = time.monotonic()
        per_pass = (now - t_measure) / len(plain)
        if (a.trace or len(plain) >= MAX_PASSES or now - t_measure >= a.seconds
                or now + per_pass > budget_end):
            break

    med = statistics.median
    if a.trace == 0:
        run_s = med([p["run_s"] for p in plain])
        values = {
            "run_s": run_s,
            "rows_per_s": med([p["input_rows"] / p["run_s"] for p in plain]),
            "setup_s": med([p["setup_s"] for p in plain] + [gen_setup]),
            "check_s": med([p["check_s"] for p in plain]),
            "ok_ratio": sum(p["ok"] for p in plain) / sum(p["ops"] for p in plain),
        }
        metrics = spec["end_to_end"]
    else:
        res = iteration(cp, a.workload, a.seed, data, len(plain), True, deadline)
        checker.iteration(res)
        t = summarize(res)
        layers = res["layers"]
        values = dict(layers)
        same = [r["run_s"] for r in recorded if r["seed"] == a.seed]
        base = med([p["run_s"] for p in plain] or same or [r["run_s"] for r in recorded])
        values["trace.overhead_frac"] = t["run_s"] / base - 1.0
        values["spark.rescan_ratio"] = layers["spark.input_records"] / max(t["input_rows"], 1)
        values["output.mb"] = t["out_bytes"] / MB
        values["peak_rss_mb"] = t["peak_rss_mb"]
        values["run_fail_ratio"] = checker.ops["run"][1] / checker.ops["run"][0]
        values["check_fail_ratio"] = checker.ops["check"][1] / checker.ops["check"][0]
        metrics = spec["per_layer"]

    out = {}
    for m in metrics:
        v = values.get(m["name"], 0.0)
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    log(f"{a.workload} seed={a.seed} trace={a.trace}: untraced run_s per pass "
        f"{[round(p['run_s'], 3) for p in plain]}, {time.monotonic() - t_start:.1f} s in all")
    print(json.dumps({"correct": checker.failed == 0, "attempted": checker.attempted,
                      "failed": checker.failed, "metrics": out}))


if __name__ == "__main__":
    main()
