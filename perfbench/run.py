#!/usr/bin/env python3
"""Run one benchmark workload: build, generate inputs, measure, check.

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout builds the
harness together with the program's sources (sbt, offline); later runs
reuse the build while no source changed. Inputs are generated from the
seed into perfbench/work/<workload>/data. The harness JVM writes its
results to perfbench/work/<workload>/result.json; this script then
compares every called query's dumped result with its DuckDB oracle and
prints, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics (traced runs also leave their spans in
perfbench/work/<workload>/spans.json). Detail lines before it start with
`#perfbench-`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

RUN_LIMIT_S = 170  # a run must end within 180 s; keep a margin
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: program and harness sources."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src/main/scala/**/*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile harness + program once per source state; return the classpath."""
    stamp_file = os.path.join(HERE, "target", "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    try:
        p = subprocess.run(["sbt", "-batch", "export Runtime/fullClasspath"], cwd=HERE,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=850, stdin=subprocess.DEVNULL)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(3, f"build did not run: {e}")
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail(3, "build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def run_jvm(cp, args, work, timeout_s):
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Harness"] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", help="alter this call's timed results (tests the checks)")
    a = ap.parse_args()
    t0 = time.monotonic()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(2, "no program sources (src/main/scala/graft) beside the benchmark")
    if not os.path.exists(bench_file):
        fail(2, "BENCHMARK.json not found")
    with open(bench_file) as f:
        spec = json.load(f)
    import gen
    if a.workload not in gen.WORKLOADS:
        fail(2, f"unknown workload {a.workload}; one of {sorted(gen.WORKLOADS)}")

    tb = time.monotonic()
    cp = build()
    build_s = time.monotonic() - tb

    work = os.path.join(HERE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    tg = time.monotonic()
    manifest = gen.generate(a.workload, a.seed, data)
    gen_s = time.monotonic() - tg
    for name, t in sorted(manifest["tables"].items()):
        print(f"#perfbench-input {name} hash={t['hash']} files={t['files']} rows={t['rows']}")
    print("#perfbench-properties " + json.dumps(manifest["properties"], sort_keys=True))

    out = os.path.join(work, "result.json")
    left = RUN_LIMIT_S - (time.monotonic() - t0 - build_s)
    args = ["--workload", a.workload, "--data", data, "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out,
            "--budget", str(int(left - 10))]
    if a.corrupt:
        args += ["--corrupt", a.corrupt]
    tj = time.monotonic()
    rc = run_jvm(cp, args, work, left - 5)
    jvm_s = time.monotonic() - tj
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(f"{work}/jvm.log").read()[-4000:])
        fail(4, f"harness exited with {rc}")
    with open(out) as f:
        res = json.load(f)

    import oracle
    oracle_fail = oracle.check(data, res["oracle"]["dir"], res["oracle"]["queries"])
    checks = res["checks"] + [
        {"name": f"oracle.{q}", "ok": q not in oracle_fail, "detail": oracle_fail.get(q, "match"),
         "calls": [q]} for q in sorted(res["oracle"]["queries"])]
    calls = res["calls"]
    # a failed check fails every timed call of the queries it implicates
    bad = {c for ch in checks if not ch["ok"] for c in ch["calls"]}
    attempted = sum(c["timed"] for c in calls.values())
    failed = sum(c["timed"] if n in bad else c["failed"] for n, c in calls.items())
    correct = failed == 0 and all(ch["ok"] for ch in checks) and attempted > 0

    kind = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    for m in spec[kind]:
        if m["name"] not in res["metrics"]:
            fail(5, f"harness did not report {m['name']}")
        metrics[m["name"]] = {"value": res["metrics"][m["name"]], "unit": m["unit"]}

    for ch in checks:
        if not ch["ok"]:
            print(f"#perfbench-check FAIL {ch['name']}: {ch['detail']}")
    for f_ in res["failures"][:20]:
        print(f"#perfbench-failure {f_['call']}: {f_['error']}")
    detail = dict(res["detail"], failed_ratio=failed / max(attempted, 1), passes=res["passes"],
                  checks=len(checks), checks_failed=sum(not c["ok"] for c in checks),
                  build_s=round(build_s, 3), gen_s=round(gen_s, 3), jvm_s=round(jvm_s, 3),
                  run_s=round(time.monotonic() - t0, 3))
    print("#perfbench-detail " + json.dumps(detail, sort_keys=True))
    print("#perfbench-calls " + json.dumps(
        {n: round(c["median_s"], 4) for n, c in calls.items()}, sort_keys=True))
    if a.trace:
        print("#perfbench-layers " + json.dumps(res["layers"], sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
