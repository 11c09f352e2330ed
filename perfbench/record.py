#!/usr/bin/env python3
"""Repeat benchmark runs over seeds and record their spread.

    python3 perfbench/record.py --seeds 1-10 --out perfbench/results/set1.json
    python3 perfbench/record.py --seeds 1 --trace-artifacts perfbench/results/traces
    python3 perfbench/record.py --compare set1.json set2.json --out stability.json

Without --trace-artifacts: runs every workload once per seed (untraced)
and writes, per workload and end-to-end metric, the values, median,
quartiles (statistics.quantiles, n=4) and the spread (Q3 - Q1) / median,
next to each run's detail line (per-call medians, calibration probe,
check counts). With --trace-artifacts: for each workload runs the seed
untraced and traced and writes <dir>/<workload>.json with the per-layer
metrics, per-layer self times, the tracing overhead (traced pass_s minus
untraced pass_s) and the traced run's spans. With --compare: two recorded
sets side by side against BENCHMARK.json's bounds (every spread but
setup_s's within its bound; the second median no worse than the first by
more than the bound).

Run from the repository root.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    tagged = {l.split(" ", 1)[0]: l.split(" ", 1)[1] for l in lines[:-1] if l.startswith("#perfbench-")}
    return json.loads(lines[-1]), {k: (json.loads(v) if v[:1] in "{[" else v) for k, v in tagged.items()}


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"values": values, "median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def compare(spec, first, second):
    """Per workload and end-to-end metric: both sets' median, quartiles
    and spread, and whether the pair meets the metric's bound."""
    out = {}
    for w, r1 in first["workloads"].items():
        r2 = second["workloads"][w]
        for m in spec["end_to_end"]:
            a, b = r1["metrics"][m["name"]], r2["metrics"][m["name"]]
            worse = (b["median"] - a["median"]) / a["median"]
            if m["better"] == "higher":
                worse = -worse
            spread_ok = m["name"] == "setup_s" or max(a["spread"], b["spread"]) <= m["bound"]
            out.setdefault(w, {})[m["name"]] = {
                "bound": m["bound"], "first": {k: a[k] for k in ("median", "q1", "q3", "spread")},
                "second": {k: b[k] for k in ("median", "q1", "q3", "spread")},
                "second_worse_by": worse, "ok": spread_ok and worse <= m["bound"],
                "calib_s_median": [statistics.median(r1["calib_s"]), statistics.median(r2["calib_s"])]}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds")
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    ap.add_argument("--workloads", help="comma-separated; default all in BENCHMARK.json")
    ap.add_argument("--out")
    ap.add_argument("--trace-artifacts")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.compare:
        sets = []
        for path in a.compare:
            with open(path) as f:
                sets.append(json.load(f))
        res = compare(spec, *sets)
        text = json.dumps(res, indent=1, sort_keys=True)
        if a.out:
            with open(a.out, "w") as f:
                f.write(text)
        print(text)
        return
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    secs = spec["run_seconds"]
    if a.trace_artifacts:
        os.makedirs(a.trace_artifacts, exist_ok=True)
        for w in names:
            for seed in seeds_of(a.seeds):
                plain, plain_d = run(w, seed, secs, 0)
                traced, traced_d = run(w, seed, secs, 1)
                spans = os.path.join(a.trace_artifacts, f"{w}.spans.json")
                shutil.copy(os.path.join(HERE, "work", w, "spans.json"), spans)
                art = {"workload": w, "seed": seed, "correct": traced["correct"] and plain["correct"],
                       "untraced_pass_s": plain["metrics"]["pass_s"]["value"],
                       "traced_pass_s": traced["metrics"]["trace.pass_s"]["value"],
                       "per_layer": {k: v["value"] for k, v in traced["metrics"].items()},
                       "layer_self_times": traced_d.get("#perfbench-layers"),
                       "calls": traced_d.get("#perfbench-calls"),
                       "spans_file": os.path.basename(spans)}
                art["tracing_overhead_s"] = art["traced_pass_s"] - art["untraced_pass_s"]
                with open(os.path.join(a.trace_artifacts, f"{w}.json"), "w") as f:
                    json.dump(art, f, indent=1, sort_keys=True)
                print(w, seed, "overhead", round(art["tracing_overhead_s"], 3), flush=True)
        return
    record = {"run_seconds": secs, "workloads": {}}
    for w in names:
        runs = []
        for seed in seeds_of(a.seeds):
            res, det = run(w, seed, secs, 0)
            runs.append({"seed": seed, "result": res, "detail": det.get("#perfbench-detail"),
                         "calls": det.get("#perfbench-calls")})
            print(w, seed, res["correct"], {k: round(v["value"], 4) for k, v in res["metrics"].items()},
                  flush=True)
        metrics = {m["name"]: spread([r["result"]["metrics"][m["name"]]["value"] for r in runs])
                   for m in spec["end_to_end"]} if len(runs) > 1 else {}
        calib = [r["detail"]["calib_s"] for r in runs]
        record["workloads"][w] = {"metrics": metrics, "calib_s": calib,
                                  "all_correct": all(r["result"]["correct"] for r in runs),
                                  "runs": runs}
    out = json.dumps(record, indent=1, sort_keys=True)
    if a.out:
        os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
        with open(a.out, "w") as f:
            f.write(out)
    for w, r in record["workloads"].items():
        for m, s in r["metrics"].items():
            print(f"{w:16s} {m:14s} median {s['median']:.4f} spread {s['spread']:.4f}")


if __name__ == "__main__":
    main()
