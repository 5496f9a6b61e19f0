#!/usr/bin/env python3
"""Steadiness check: runs one workload k times with k seeds and prints,
per end-to-end metric, the median, the quartiles and the interquartile
spread as a share of the median, against the metric's bound.

    python3 perfbench/steady.py --workload dashboard --runs 10 [--seed0 1]
                                [--out set.json] [--compare prev.json]

Every run measures BENCHMARK.json's ``run_seconds``. A spread within a
third of the bound is steady; ``setup_s`` has no spread requirement.
``--out`` saves the values; ``--compare`` checks each median against an
earlier saved set (worse by at most the bound).
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"seed {seed}: no result (rc={p.returncode})")
    detail = json.loads(lines[-2]) if len(lines) > 1 else {}
    detail["wall_s"] = time.time() - t0
    return p.returncode, json.loads(lines[-1]), detail


def summarize(metrics, values):
    rows = []
    for m in metrics:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        rows.append((m, med, q1, q3, spread))
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--out")
    ap.add_argument("--compare")
    a = ap.parse_args()
    b = bench()
    seconds = b["run_seconds"]
    values = {m["name"]: [] for m in b["end_to_end"]}
    bad = 0
    for i in range(a.runs):
        rc, res, detail = run_once(a.workload, a.seed0 + i, seconds)
        bad += (rc != 0) or not res["correct"]
        for k in values:
            values[k].append(res["metrics"][k]["value"])
        extra = {k: v["value"] for k, v in detail.get("detail", {}).items()}
        extra["cpu_steal_share"] = detail.get("environment", {}).get("cpu_steal_share", -1)
        print(f"seed {a.seed0 + i}: rc={rc} wall={detail['wall_s']:.1f}s correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
              + "".join(f" {k}={v:.4g}" for k, v in extra.items()), flush=True)
    prev = None
    if a.compare:
        with open(a.compare) as f:
            prev = json.load(f)
    ok = bad == 0
    print(f"\n{a.workload}: {a.runs} runs, {seconds:g} s each")
    print(f"{'metric':<14}{'unit':<8}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>8}{'bound':>7}")
    for m, med, q1, q3, spread in summarize(b["end_to_end"], values):
        steady = m["name"] == "setup_s" or spread <= m["bound"] / 3
        note = "" if steady else "  UNSTEADY"
        if prev:
            pm = statistics.median(prev[m["name"]])
            worse = (med - pm) / pm if m["better"] == "lower" else (pm - med) / pm
            note += f"  vs prev {worse:+.3f}" + ("  WORSE" if worse > m["bound"] else "")
            steady = steady and worse <= m["bound"]
        ok = ok and steady
        print(f"{m['name']:<14}{m['unit']:<8}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}"
              f"{spread:>8.3f}{m['bound']:>7.2f}{note}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(values, f)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
