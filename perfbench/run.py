#!/usr/bin/env python3
"""The repository's benchmark: one command, two closed-loop workloads.

    python3 perfbench/run.py --workload forex_daily_etl --seed 1 \
        --seconds 35 --trace 0

Run from the root of a source checkout. The first run builds the engine
and the benchmark from source with sbt (into `target/` and
`perfbench/target/`) and caches the classpath in `.bench_build/`. Inputs
are generated from the seed into `.bench_work/inputs/` before any timer
starts. The workload then runs in its own JVM with one client; its
results are checked here, outside the timed region, and the last line
printed is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of
BENCHMARK.json; with `--trace 1` the per-layer ones, and the spans go to
`.bench_work/artifacts/trace-<workload>-<seed>.json`. The command exits
non-zero when any correctness check fails. `--tiny 1` shrinks every input
for the benchmark's own tests; `--corrupt 1` flips one checked value, to
prove the checks fail.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
JVM_TIMEOUT_S = 170
WORKLOADS = ("forex_daily_etl", "corpus_dedup")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
SBT_OFFLINE = ("-Dsbt.override.build.repos=true "
               "-Dsbt.repository.config={home}/.sbt/repositories "
               "-Dsbt.offline=true -Xmx3g")

sys.path.insert(0, HERE)
import gen  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def _sources_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if not f.endswith((".scala", ".sbt", ".properties")):
                    continue
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source state; return classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no engine sources next to the benchmark: run from a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp = _sources_stamp()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", SBT_OFFLINE.format(home=os.path.expanduser("~")))
    log("building engine and benchmark with sbt (first run only)")
    t0 = time.time()
    with open(os.path.join(BUILD, "sbt.log"), "w") as logf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=logf,
            stdin=subprocess.DEVNULL, text=True, timeout=850)
        logf.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ":" not in lines[-1]:
        fail(f"sbt build failed (see {BUILD}/sbt.log)")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return classpath


def java_cmd(classpath, work, args):
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opens +
            ["-Xmx3g", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-cp", classpath, "perfbench.Main"] + args)


# ----------------------------------------------------------------- inputs

def _marker_ok(d, key):
    m = os.path.join(d, ".done")
    return os.path.isfile(m) and open(m).read() == key


def _mark(d, key):
    with open(os.path.join(d, ".done"), "w") as f:
        f.write(key)


# scale of the corpus tables (1.0 = the sf0.1 row counts), normal and tiny
CORPUS_SCALE = {False: 0.1, True: 0.05}


def ensure_tables(scale):
    d = os.path.join(WORK, "inputs", f"tables-{scale}")
    key = f"tables v2 scale {scale}"
    if not _marker_ok(d, key):
        shutil.rmtree(d, ignore_errors=True)
        fp = gen.tables(d, scale)
        with open(os.path.join(d, "fingerprint"), "w") as f:
            f.write(fp)
        _mark(d, key)
    with open(os.path.join(d, "fingerprint")) as f:
        return d, f.read()


def ensure_inputs(workload, seed, tiny):
    """Returns (workload input dir, tables dir, tables fingerprint)."""
    size = "tiny" if tiny else "full"
    d = os.path.join(WORK, "inputs", f"{workload}-{size}")
    if workload == "forex_daily_etl":
        key = f"forex v2 seed {seed}"
        if not _marker_ok(d, key):
            shutil.rmtree(d, ignore_errors=True)
            if tiny:
                gen.forex(d, seed, days=10, currencies=8, history_years=1)
            else:
                gen.forex(d, seed, days=30)
            _mark(d, key)
        return d, "", ""
    tables, fp = ensure_tables(CORPUS_SCALE[tiny])
    key = f"corpus v1 seed {seed} tables {fp}"
    if not _marker_ok(d, key):
        shutil.rmtree(d, ignore_errors=True)
        gen.corpus(d, tables, seed, planted=10 if tiny else 40,
                   batches=2, forget=5 if tiny else 10,
                   queries=40 if tiny else 200)
        _mark(d, key)
    return d, tables, fp


# ----------------------------------------------------------------- checks

def check_forex(res, inputs):
    with open(os.path.join(inputs, "plan.json")) as f:
        truth = json.load(f)["truth"]
    errs = []
    totals = {"api": 0, "history": 0, "scraped": 0}
    for day in res["data"]["days"]:
        t = truth[day["day"]]
        for k in totals:
            got = day[k]
            if got != t[k]:
                errs.append(f"day {day['day']} {k}: {got} != {t[k]}")
            totals[k] += t[k]["inserted"]
        if day["posted"] != t["posted"]:
            errs.append(f"day {day['day']} posted {day['posted']} != {t['posted']}")
    if res["data"]["table_rows"] != totals:
        errs.append(f"table rows {res['data']['table_rows']} != {totals}")
    return [{"name": "per-day inserted/skipped/posted and table rows equal the "
             "generator's truth", "ok": not errs, "detail": "; ".join(errs[:5])}]


def check_queries(res, fp, tiny):
    with open(os.path.join(HERE, "expected", "corpus_queries.json")) as f:
        exp = json.load(f)["tiny" if tiny else "full"]
    if exp["fingerprint"] != fp:
        return [{"name": "generated tables match the oracle's", "ok": False,
                 "detail": "table fingerprint differs; rerun oracle.py"}]
    out = []
    for name, want in sorted(exp["checksums"].items()):
        got = res["data"]["checksums"].get(name)
        out.append({"name": f"{name} checksum equals DuckDB", "ok": got == want,
                    "detail": "" if got == want else f"spark {got} duckdb {want}"})
    return out


def corrupt(res, workload):
    """Flip one value the checks read (for the benchmark's own tests)."""
    d = res["data"]
    if workload == "forex_daily_etl":
        d["days"][-1]["posted"] += 1
    else:
        name = sorted(d["checksums"])[0]
        d["checksums"][name] = "0:" + d["checksums"][name]


# ------------------------------------------------------------------- main

def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = bench_spec()
    classpath = build()
    inputs, tables, fp = ensure_inputs(a.workload, a.seed, bool(a.tiny))

    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    cpus = min(4, os.cpu_count() or 1)
    cmd = java_cmd(classpath, work, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--inputs", inputs, "--tables", tables, "--work", work, "--cpus", str(cpus),
        "--tiny", str(a.tiny), "--out", out])
    with open(os.path.join(WORK, "java.log"), "w") as logf:
        try:
            p = subprocess.run(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S,
                               env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(
                                   work, "spark-local")))
        except subprocess.TimeoutExpired:
            fail(f"workload JVM timed out after {JVM_TIMEOUT_S} s "
                 f"(see {WORK}/java.log)", 1)
    if p.returncode != 0 or not os.path.isfile(out):
        fail(f"workload JVM exited {p.returncode} (see {WORK}/java.log)", 1)
    with open(out) as f:
        res = json.load(f)
    if a.corrupt:
        corrupt(res, a.workload)

    checks = list(res["checks"])
    if a.workload == "forex_daily_etl":
        checks += check_forex(res, inputs)
    else:
        checks += check_queries(res, fp, bool(a.tiny))
    correct = all(c["ok"] for c in checks)
    for c in checks:
        if not c["ok"]:
            log(f"CHECK FAILED: {c['name']}: {c['detail']}")

    info = res["run_info"]
    metrics = {}
    if a.trace:
        m = dict(res["metrics"])
        m["functions.natives_resolved"] = info["natives_resolved"]
        m["run.load_start"] = info["load_start"]
        m["run.load_end"] = info["load_end"]
        # a layer the workload never calls reads 0
        for spec_m in spec["per_layer"]:
            metrics[spec_m["name"]] = {"value": m.get(spec_m["name"], 0.0),
                                       "unit": spec_m["unit"]}
    else:
        for spec_m in spec["end_to_end"]:
            metrics[spec_m["name"]] = {"value": res["metrics"][spec_m["name"]],
                                       "unit": spec_m["unit"]}

    art_dir = os.path.join(WORK, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    kind = "trace" if a.trace else "run"
    artifact = dict(res, checks=checks, correct=correct, reported=metrics)
    with open(os.path.join(art_dir, f"{kind}-{a.workload}-{a.seed}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps({"run_info": info, "data": {
        k: v for k, v in res["data"].items() if k not in ("days", "checksums")}}))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
