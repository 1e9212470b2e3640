#!/usr/bin/env python3
"""A/B the benchmark between two checkouts in alternating pairs.

    python3 tools/perf_pairs.py --parent ../parent --change . \\
        --workload append --seeds 9401-9410 [--claim space_amp] [--log pairs.jsonl]

For each seed it runs

    python3 perfbench/run.py --workload W --seed S --seconds 18 --trace 0

once in each checkout (the parent first on even pair numbers, the
change first on odd ones), then prints, for every end-to-end metric that
BENCHMARK.json declares: each side's median [q1, q3], the change in the
median, and how many pairs the change won (ties count for neither side).
A metric is flagged when the change's median is worse than the parent's
by more than the metric's bound. For each --claim metric it prints the
verdict of the gain rule: the change wins at least nine tenths of the
pairs, and the medians differ, in the better direction, by more than the
parent's interquartile range.

With --log every run's result is appended to that JSON-lines file, and
the summary covers every pair of the workload in the file, so batches
run at different times are pooled. Without --seeds the log is only
summarised.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

SECONDS = 18


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_once(checkout, workload, seed):
    """one untraced run; its result JSON, or None if it failed"""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(SECONDS), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, stdin=subprocess.DEVNULL,
                          stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    lines = proc.stdout.decode(errors="replace").strip().splitlines()
    if proc.returncode != 0 or not lines:
        return None
    try:
        return json.loads(lines[-1])
    except ValueError:
        return None


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def fmt(x):
    return f"{x:.4g}"


def summarise(records, workload, end_to_end, claims):
    by_seed = {}
    for r in records:
        if r["workload"] == workload:
            by_seed.setdefault(r["seed"], {})[r["side"]] = r["result"]
    pairs = [(s, p["parent"], p["change"]) for s, p in sorted(by_seed.items())
             if "parent" in p and "change" in p]
    broken = [(s, side) for s, p, c in pairs for side, res in (("parent", p), ("change", c))
              if res is None or res.get("correct") not in (True, "true")]
    good = [(s, p, c) for s, p, c in pairs if s not in {b for b, _ in broken}]
    print(f"{workload}: {len(pairs)} pairs, {len(good)} with both runs correct; "
          f"seeds {', '.join(str(s) for s, _, _ in pairs)}")
    for s, side in broken:
        print(f"  seed {s}: the {side} run failed or was incorrect")
    if not good:
        return True
    print("| metric | parent | change | Δ median | change better | bound |")
    print("|---|---|---|---|---|---|")
    ok = True
    for m in end_to_end:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["metrics"][name]["value"] for _, p, _ in good]
        chg = [c["metrics"][name]["value"] for _, _, c in good]
        (pq1, pmed, pq3), (cq1, cmed, cq3) = quartiles(par), quartiles(chg)
        wins = sum(1 for a, b in zip(par, chg) if (b < a if lower else b > a))
        delta = (cmed - pmed) / pmed if pmed else 0.0
        worse = delta if lower else -delta
        flag = ""
        if worse > m["bound"]:
            flag, ok = " WORSE THAN BOUND", False
        print(f"| {name} | {fmt(pmed)} [{fmt(pq1)}, {fmt(pq3)}] | {fmt(cmed)} [{fmt(cq1)}, {fmt(cq3)}] "
              f"| {delta * 100:+.1f}% | {wins}/{len(good)} | {m['bound'] * 100:.0f}%{flag} |")
        if name in claims:
            gap = (pmed - cmed) if lower else (cmed - pmed)
            met = wins >= 0.9 * len(good) and gap > pq3 - pq1
            print(f"  claim {name}: {wins}/{len(good)} wins (need {-(-9 * len(good) // 10)}), "
                  f"median gap {fmt(gap)} vs parent IQR {fmt(pq3 - pq1)}: {'MET' if met else 'NOT MET'}")
            ok = ok and met
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", help="seeds to run, e.g. 9401-9410 or 1,5,9")
    ap.add_argument("--claim", action="append", default=[], help="end-to-end metric claimed to improve")
    ap.add_argument("--log", help="JSON-lines file the runs are appended to and summarised from")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        end_to_end = json.load(f)["end_to_end"]
    records = []
    if args.log and os.path.exists(args.log):
        with open(args.log) as f:
            records = [json.loads(line) for line in f if line.strip()]
    sides = {"parent": args.parent, "change": args.change}
    for i, seed in enumerate(seeds(args.seeds) if args.seeds else []):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res = run_once(sides[side], args.workload, seed)
            rec = {"workload": args.workload, "seed": seed, "side": side, "first": order[0], "result": res}
            records.append(rec)
            if args.log:
                with open(args.log, "a") as f:
                    f.write(json.dumps(rec) + "\n")
            print(f"[perf_pairs] {args.workload} seed {seed} {side}: "
                  + ("failed" if res is None else
                     " ".join(f"{k}={fmt(v['value'])}" for k, v in res["metrics"].items())),
                  file=sys.stderr, flush=True)
    sys.exit(0 if summarise(records, args.workload, end_to_end, set(args.claim)) else 1)


if __name__ == "__main__":
    main()
