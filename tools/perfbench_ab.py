"""Interleaved A/B of one perfbench workload between two checkouts.

    python3 tools/perfbench_ab.py --parent ../parent --change . \
        --workload cdc_live --seeds 871-880 --out ab.json

Runs `python3 perfbench/run.py --workload W --seed S --seconds T --trace 0`
in each checkout once per seed, alternating which side runs first (the
parent on even pairs, the change on odd ones), so host drift falls on both
sides. Each checkout builds into its own `.bench_build`. For every
end-to-end metric of the change's `BENCHMARK.json` it prints each side's
median and quartiles, the change's wins (ties count for neither side),
the median's relative move against the metric's bound, and whether the
gain rule holds: the change wins at least nine tenths of the pairs and the
medians differ, in the better direction, by more than the parent's
interquartile range. `--out` keeps every run's result object.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise SystemExit(f"{checkout}: seed {seed} printed no result (exit {p.returncode})")
    res = json.loads(lines[-1])
    res["exit"] = p.returncode
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(spec, pairs):
    n = len(pairs)
    print(f"{n} pairs; failed/attempted parent "
          f"{sum(p['parent']['failed'] for p in pairs)}/"
          f"{sum(p['parent']['attempted'] for p in pairs)}, change "
          f"{sum(p['change']['failed'] for p in pairs)}/"
          f"{sum(p['change']['attempted'] for p in pairs)}; "
          f"incorrect runs parent {sum(not p['parent']['correct'] for p in pairs)}, "
          f"change {sum(not p['change']['correct'] for p in pairs)}")
    print(f"{'metric':18} {'parent median [q1, q3]':>28} {'change median [q1, q3]':>28}"
          f" {'move':>7} {'bound':>6} {'wins':>6}  gain rule")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        a = [p["parent"]["metrics"][name]["value"] for p in pairs]
        b = [p["change"]["metrics"][name]["value"] for p in pairs]
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        aq1, am, aq3 = quartiles(a)
        bq1, bm, bq3 = quartiles(b)
        gain = (am - bm) if lower else (bm - am)
        move = (bm - am) / am if am else 0.0
        worse = move if lower else -move
        holds = wins >= 0.9 * n and gain > (aq3 - aq1)
        flag = "holds" if holds else ("WORSE THAN BOUND" if worse > m["bound"] else "-")
        side = lambda q1, med, q3: f"{med:.1f} [{q1:.1f}, {q3:.1f}]"
        print(f"{name:18} {side(aq1, am, aq3):>28} {side(bq1, bm, bq3):>28}"
              f" {move:+7.3f} {m['bound']:6.2f} {wins:3d}/{n:<2d}  {flag}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 871-880 or 1,5,9")
    ap.add_argument("--seconds", type=int, default=None,
                    help="run length (default: BENCHMARK.json's run_seconds)")
    ap.add_argument("--out", help="write every run's result object here")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = a.seconds or spec["run_seconds"]
    pairs = []
    for i, seed in enumerate(seeds_of(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run(getattr(a, side), a.workload, seed, seconds)
            vals = {k: round(v["value"], 1) for k, v in pair[side]["metrics"].items()}
            print(f"seed {seed} {side:6} {vals}", file=sys.stderr, flush=True)
        pairs.append(pair)
        if a.out:
            with open(a.out, "w") as f:
                json.dump({"workload": a.workload, "seconds": seconds, "pairs": pairs}, f, indent=1)
    report(spec, pairs)


if __name__ == "__main__":
    main()
