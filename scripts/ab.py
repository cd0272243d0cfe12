#!/usr/bin/env python3
"""Alternating A/B runs of one graftbench workload in two checkouts.

    python3 scripts/ab.py PARENT_DIR CHANGE_DIR --workload replicate \
        --seeds 2-13 [--seconds 5] [--trace 0] [--out runs.json]

For each seed it runs `python3 graftbench/run.py` once in each checkout,
the parent first on even pair indices and the change first on odd ones,
and keeps each run's last stdout line (the result JSON). It then prints,
per metric: both sides' median and quartiles, the change's wins over the
pairs (better by the metric's direction in CHANGE_DIR/BENCHMARK.json),
the median delta, the parent's IQR, and whether the change clears the
nine-in-ten rule (better in at least 90% of pairs and a median delta
larger than the parent's IQR). End-to-end metrics also show the relative
change against their BENCHMARK.json bound. Every run that is incorrect,
fails operations or gives no result is listed. Exit code 1 if any run
was incorrect or gave no result.

Each run's measured operation times (`op_s` on run.py's `graftbench:` info
line) are kept too. A run whose every measured op takes at least 1.5x its
side's median op is counted as slow mode, a whole-JVM slowdown rather than
noise; the count per side is printed with the flagged seeds.

--seeds takes a comma list and/or ranges: "2-13" or "1,3,5-7".
--out saves every run's result (seed, side, order, exit code, op_s, result).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi) + 1) if hi else [int(lo)])
    return seeds


SLOW_FACTOR = 1.5


def op_times(lines):
    """Measured op times (s) from the `graftbench: workload=... op_s=a,b` line; [] if absent."""
    for line in lines:
        if line.startswith("graftbench: workload="):
            for field in line.split():
                if field.startswith("op_s=") and len(field) > len("op_s="):
                    return [float(x) for x in field[len("op_s="):].split(",")]
    return []


def run(checkout, workload, seed, seconds, trace):
    """One run.py invocation in `checkout`: (exit code, result dict or None, op times)."""
    proc = subprocess.run(
        [sys.executable, "graftbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return proc.returncode, result, op_times(lines)


def slow_mode(runs, side):
    """(flagged seeds, runs with op times, median op) of `side`: a run is flagged
    when every measured op is at least SLOW_FACTOR x the side's median op."""
    timed = [r for r in runs if r["side"] == side and r["op_s"]]
    if not timed:
        return [], 0, None
    med = statistics.median(o for r in timed for o in r["op_s"])
    return [r["seed"] for r in timed if min(r["op_s"]) >= SLOW_FACTOR * med], len(timed), med


def quartiles(xs):
    """(q1, median, q3); with one value all three are that value."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def directions(checkout):
    """metric name -> (better, bound or None) from BENCHMARK.json."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    out = {m["name"]: (m["better"], m.get("bound")) for m in bench.get("per_layer", [])}
    out.update({m["name"]: (m["better"], m.get("bound")) for m in bench["end_to_end"]})
    return out, [m["name"] for m in bench["end_to_end"]]


def report(pairs, dirs, end_to_end):
    """Print the per-metric table for the pairs [(parent result, change result)]."""
    names = sorted({n for p, c in pairs for n in p["metrics"]} & {n for p, c in pairs for n in c["metrics"]},
                   key=lambda n: (n not in end_to_end, n))
    print(f"{'metric':34s} {'parent q1/med/q3':>26s} {'change q1/med/q3':>26s} "
          f"{'wins':>7s} {'delta':>9s} {'p.IQR':>8s} {'rel':>7s}  verdict")
    for name in names:
        better, bound = dirs.get(name, ("lower", None))
        both = [(p["metrics"][name]["value"], c["metrics"][name]["value"]) for p, c in pairs
                if name in p["metrics"] and name in c["metrics"]
                and p["metrics"][name]["value"] is not None and c["metrics"][name]["value"] is not None]
        if not both:
            continue
        pa = [p for p, _ in both]
        ch = [c for _, c in both]
        pq, cq = quartiles(pa), quartiles(ch)
        sign = -1 if better == "lower" else 1
        wins = sum(1 for p, c in both if sign * (c - p) > 0)
        delta = cq[1] - pq[1]
        iqr = pq[2] - pq[0]
        rel = delta / pq[1] if pq[1] else 0.0
        verdict = []
        if wins >= 0.9 * len(both) and sign * delta > iqr:
            verdict.append("GAIN (9-in-10, delta > IQR)")
        if bound is not None and name in end_to_end and -sign * rel > bound:
            verdict.append(f"WORSE beyond bound {bound}")
        print(f"{name:34s} {pq[0]:8.4g}/{pq[1]:8.4g}/{pq[2]:8.4g} {cq[0]:8.4g}/{cq[1]:8.4g}/{cq[2]:8.4g} "
              f"{wins:3d}/{len(both):<3d} {delta:+9.4g} {iqr:8.4g} {rel:+7.1%}  {' '.join(verdict)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--out")
    a = ap.parse_args()
    dirs, end_to_end = directions(a.change)

    runs, pairs, bad, broken = [], [], [], False
    for i, seed in enumerate(a.seeds):
        order = [("parent", a.parent), ("change", a.change)]
        if i % 2:
            order.reverse()
        got = {}
        for pos, (side, checkout) in enumerate(order):
            code, result, ops = run(checkout, a.workload, seed, a.seconds, a.trace)
            runs.append({"seed": seed, "side": side, "first": pos == 0, "exit": code, "op_s": ops,
                         "result": result})
            broken |= result is None or not result.get("correct")
            if result is None or code != 0 or not result.get("correct") or result.get("failed"):
                bad.append(f"seed {seed} {side}: exit {code}, "
                           + ("no result" if result is None else
                              f"correct={result.get('correct')} failed={result.get('failed')}"))
            got[side] = result
            print(f"seed {seed} {side:6s} exit {code}", file=sys.stderr, flush=True)
        if got["parent"] and got["change"]:
            pairs.append((got["parent"], got["change"]))

    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"workload": a.workload, "seeds": a.seeds, "trace": a.trace, "runs": runs}, fh, indent=1)
    print(f"{a.workload}: {len(pairs)} pairs, seeds {a.seeds[0]}..{a.seeds[-1]}, trace {a.trace}")
    if pairs:
        report(pairs, dirs, end_to_end)
    for side in ("parent", "change"):
        flagged, timed, med = slow_mode(runs, side)
        if timed:
            print(f"slow mode {side}: {len(flagged)}/{timed} runs with every op >= {SLOW_FACTOR}x "
                  f"the side's median op {med:.3f} s" + (f" (seeds {flagged})" if flagged else ""))
    for line in bad:
        print("INCORRECT " + line)
    return 1 if broken else 0


if __name__ == "__main__":
    sys.exit(main())
