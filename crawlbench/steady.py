"""Steadiness report: do two sets of runs of the same commit agree?

    python3 crawlbench/steady.py [--runs 10] [--sets 2] [--workloads crawl,frontier]

Runs ``run.py`` ``--runs`` times per workload and set, each run with its
own seed from SEED_BASE on (workloads interleaved, so machine drift hits
all of them alike), plus one traced run per workload and set on
TRACE_SEED. Prints, per workload and end-to-end metric (setup_s
included), each set's median and quartiles, the spread
(interquartile range over median) against the metric's bound in
BENCHMARK.json, and whether the second set's median is within the bound of
the first. Per-layer counts that must be deterministic are compared
between the traced runs and must repeat exactly. The full record goes to
``crawlbench/out/steady-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DETERMINISTIC = (
    "plans.crawl.rounds", "plans.crawl.jobs_per_round", "plans.crawl.stages_per_round",
    "plans.crawl.between_commit_jobs", "storage.commit_jobs", "storage.datasets_per_commit",
    "storage.compactions", "storage.files_written", "storage.seen_keys",
    "operators.admission.rows_in", "operators.admission.rows_admitted",
    "operators.admission.seen_dropped", "operators.politeness.fetch_now",
    "operators.politeness.deferred", "operators.politeness.salted",
    "functions.html.pages", "functions.html.links", "functions.html.errors",
)
TRACE_SEED = 42
SEED_BASE = 1000


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=False,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    return {"workload": workload, "seed": seed, "trace": trace, "rc": proc.returncode,
            "elapsed_s": time.time() - t0, "result": result}


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--workloads", default=None)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]

    runs: list[dict] = []
    for s in range(args.sets):
        for i in range(args.runs):
            for w in workloads:
                r = run_once(w, SEED_BASE + s * args.runs + i, seconds, 0)
                r["set"] = s
                runs.append(r)
                print(f"set {s} {w} seed {r['seed']}: rc={r['rc']} {r['elapsed_s']:.1f}s "
                      f"correct={r['result'] and r['result']['correct']}", file=sys.stderr)
        for w in workloads:
            r = run_once(w, TRACE_SEED, seconds, 1)
            r["set"] = s
            runs.append(r)
            print(f"set {s} {w} traced: rc={r['rc']} {r['elapsed_s']:.1f}s", file=sys.stderr)

    ok = True
    report: dict = {"workloads": {}, "deterministic": {}, "runs": runs}
    bad_runs = [r for r in runs if not (r["result"] and r["result"]["correct"])]
    if bad_runs:
        ok = False
    print(f"runs: {len(runs)}, failed or incorrect: {len(bad_runs)}, "
          f"wall: {sum(r['elapsed_s'] for r in runs):.0f}s")
    print(f"{'workload':9} {'metric':13} {'set':>3} {'median':>11} {'q1':>11} {'q3':>11} "
          f"{'spread':>7} {'bound':>5}  verdict")
    for w in workloads:
        report["workloads"][w] = {}
        for name, m in metrics.items():
            medians = []
            for s in range(args.sets):
                vals = [r["result"]["metrics"][name]["value"] for r in runs
                        if r["workload"] == w and r["set"] == s and r["trace"] == 0 and r["result"]]
                if not vals:
                    continue
                q1, med, q3 = quartiles(vals)
                spread = (q3 - q1) / med if med else float("inf")
                spread_ok = spread <= m["bound"]
                verdict = "ok" if spread_ok else "SPREAD"
                if spread_ok and spread > m["bound"] / 3:
                    verdict = "ok (> bound/3)"
                medians.append(med)
                if medians[1:]:
                    worse = (med - medians[0]) / medians[0]
                    if m["better"] == "higher":
                        worse = -worse
                    agree = worse <= m["bound"]
                    verdict += f", vs set 0: {worse:+.3f} {'agrees' if agree else 'DISAGREES'}"
                    spread_ok = spread_ok and agree
                ok = ok and spread_ok
                report["workloads"][w].setdefault(name, []).append(
                    {"median": med, "q1": q1, "q3": q3, "spread": spread, "values": vals})
                print(f"{w:9} {name:13} {s:>3} {med:11.4f} {q1:11.4f} {q3:11.4f} "
                      f"{spread:7.3f} {m['bound']:5.2f}  {verdict}")
    traced = [r for r in runs if r["trace"] == 1 and r["result"]]
    for w in workloads:
        sets = [r["result"]["metrics"] for r in traced if r["workload"] == w]
        if len(sets) < 2:
            continue
        diff = {k: [s[k]["value"] for s in sets] for k in DETERMINISTIC
                if len({s[k]["value"] for s in sets}) > 1}
        diff.update({k: [s[k]["value"] for s in sets] for k in sets[0]
                     if k.startswith("spark.") and k.endswith(".jobs")
                     and len({s[k]["value"] for s in sets}) > 1})
        report["deterministic"][w] = diff
        ok = ok and not diff
        print(f"{w}: deterministic per-layer counts {'repeat exactly' if not diff else 'DIFFER: ' + json.dumps(diff)}")
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    path = os.path.join(HERE, "out", f"steady-{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"{'STEADY' if ok else 'NOT STEADY'}; record in {path}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
