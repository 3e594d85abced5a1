"""Steadiness check: runs each workload in two separate sets of untraced
runs, every run with its own seed, and prints for every end-to-end metric
each set's median and quartiles, the spread (quartile distance over the
median) and whether both spreads, and the shift of the median between the
two sets in either direction, stay within the metric's bound in
BENCHMARK.json.

Usage: python3 perfbench/steady.py [--runs 10] [--seconds 10]
           [--workloads convert_corpus,query_mix]
A JSON summary is also written to .bench_build/perfbench/steady.json.
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


def one_run(workload, seed, seconds):
    t = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed ({r.returncode})")
    out = json.loads(r.stdout.strip().splitlines()[-1])
    out["wall_s"] = time.time() - t
    return out


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    a = ap.parse_args()
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    report, ok, seed = {}, True, 1
    for w in a.workloads.split(","):
        sets = []
        for _ in range(2):
            runs = []
            for _ in range(a.runs):
                runs.append(one_run(w, seed, a.seconds))
                seed += 1
                print(f"# {w} seed {seed - 1}: wall "
                      f"{runs[-1]['wall_s']:.1f} s", file=sys.stderr,
                      flush=True)
            sets.append(runs)
        rep = {"wall_s": summary([r["wall_s"] for s in sets for r in s]),
               "failed_share": [sorted({r["failed"] / r["attempted"]
                                        for r in s}) for s in sets],
               "metrics": {}}
        same_share = rep["failed_share"][0] == rep["failed_share"][1] and \
            len(rep["failed_share"][0]) == 1
        ok &= same_share
        print(f"\n{w}: wall per run median {rep['wall_s']['median']:.1f} s; "
              f"failed share {rep['failed_share']} "
              f"({'same' if same_share else 'DIFFERS'})")
        print(f"  {'metric':30s} {'set':>3s} {'median':>12s} {'q1':>12s} "
              f"{'q3':>12s} {'spread':>7s}  verdict")
        for name, m in bounds.items():
            s = [summary([r["metrics"][name]["value"] for r in runs])
                 for runs in sets]
            worse = (s[1]["median"] - s[0]["median"]) / s[0]["median"]
            if m["better"] == "higher":
                worse = -worse
            # a shift either way between two sets of the same code is
            # noise the bound has to absorb
            agree = abs(worse) <= m["bound"]
            steady = all(x["spread"] <= m["bound"] for x in s)
            ok &= agree and steady
            rep["metrics"][name] = {"sets": s, "second_worse_by": worse,
                                    "bound": m["bound"], "agree": agree,
                                    "steady": steady}
            for k, x in enumerate(s):
                verdict = "" if k == 0 else (
                    f"{'agree' if agree else 'DISAGREE'} "
                    f"({worse:+.3f} vs bound {m['bound']}); "
                    f"{'steady' if steady else 'SPREAD TOO WIDE'}")
                print(f"  {name if k == 0 else '':30s} {'AB'[k]:>3s} "
                      f"{x['median']:12.4f} {x['q1']:12.4f} {x['q3']:12.4f} "
                      f"{x['spread']:7.3f}  {verdict}")
        report[w] = rep
    os.makedirs(os.path.join(ROOT, ".bench_build", "perfbench"),
                exist_ok=True)
    with open(os.path.join(ROOT, ".bench_build", "perfbench",
                           "steady.json"), "w") as f:
        json.dump(report, f, indent=1)
    print("\nsteady: " + ("PASS" if ok else "FAIL"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
