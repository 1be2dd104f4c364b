"""Repeat-run and pair-compare modes over cdcbench/run.py.

    # one code version, several seeds: per-metric median, quartiles, spread
    python3 cdcbench/compare.py repeat --workload tail --seeds 1-10

    # parent vs change, alternating which runs first in each pair
    python3 cdcbench/compare.py pairs --base ../parent --change . \
        --workload backfill --pairs 10

    # tracing overhead: traced minus untraced value of each end-to-end metric
    python3 cdcbench/compare.py overhead --workload tail --seeds 1-5

    # the output check must be able to fail: a deliberately wrong
    # expectation has to turn a run incorrect
    python3 cdcbench/compare.py selfcheck --workload tail

Run from a checkout root (pairs: any directory; --base and --change are
checkout roots). Every run is a fresh `python3 cdcbench/run.py` process.
The host-load annotation of each run is printed beside its metrics and
never enters a statistic. `pairs` applies the gain rule of the
choosing-metrics guide: the change must win at least 9 of 10 pairs (ties
count for neither side) and the medians must differ by more than the
base's interquartile distance. No metric counts as a gain when the
change has more failed ops or incorrect runs than the base. A metric
whose base spread ((q3 - q1) / median) is above its bound is
unresolved, unless every change run beats every base run. Pairs also
flags any end-to-end metric whose change median is worse than the base
median by more than its bound in BENCHMARK.json.

`repeat` prints, for each run, how many samples each timed op yielded
and over how many sync passes: a p90 over a handful of samples is close
to the run's maximum, not a tail latency.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(text):
    out = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def run_once(root, workload, seed, seconds, trace, extra=()):
    cmd = [sys.executable, "cdcbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), *extra]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if len(lines) < 2:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {p.returncode})")
    notes, result = json.loads(lines[-2]), json.loads(lines[-1])
    notes = notes.get("annotations", {})
    notes["host"]["run_wall_s"] = round(time.time() - t0, 1)
    return p.returncode, notes, result


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def summarize(rows, bounds):
    """rows: list of metric dicts. Prints median, quartiles and spread."""
    names = list(rows[0].keys())
    print(f"{'metric':38} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'bound/3':>7}")
    for n in names:
        vals = [r[n]["value"] for r in rows if r[n]["value"] is not None]
        if not vals:
            continue
        q1, med, q3 = quartiles(vals)
        spread = (q3 - q1) / abs(med) if med else float("inf")
        b = bounds.get(n)
        flag = "" if b is None or spread < b / 3 else "  WIDE"
        print(f"{n:38} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:7.3f} "
              f"{(b / 3 if b else float('nan')):7.3f}{flag}")


def cmd_repeat(a):
    sp = spec(a.root)
    bounds = {m["name"]: m.get("bound") for m in sp["end_to_end"]}
    seconds = a.seconds or sp["run_seconds"]
    for w in a.workload:
        rows, bad = [], 0
        for s in seeds(a.seeds):
            rc, notes, res = run_once(a.root, w, s, seconds, a.trace)
            host = notes.get("host", {})
            print(f"# {w} seed {s}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} "
                  f"samples={json.dumps(notes.get('samples', {}))} "
                  f"passes={notes.get('counts', {}).get('passes')} "
                  f"host={json.dumps(host)}", flush=True)
            bad += (not res["correct"]) or res["failed"] > 0
            rows.append(res["metrics"])
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps({"workload": w, "seed": s, "trace": a.trace,
                                        "annotations": notes, **res}) + "\n")
        print(f"## {w}: {len(rows)} runs, {bad} incorrect or with failed ops")
        summarize(rows, bounds if not a.trace else {})


def cmd_pairs(a):
    sp = spec(a.change)
    e2e = {m["name"]: m for m in sp["end_to_end"]}
    seconds = a.seconds or sp["run_seconds"]
    runs = {"base": [], "change": []}
    failed = {"base": 0, "change": 0}
    incorrect = {"base": 0, "change": 0}
    for i in range(a.pairs):
        seed = a.first_seed + i
        order = [("base", a.base), ("change", a.change)]
        if i % 2:
            order.reverse()
        for side, root in order:
            _, notes, res = run_once(root, a.workload, seed, seconds, 0)
            print(f"# pair {i} {side}: correct={res['correct']} "
                  f"failed={res['failed']} "
                  f"host={json.dumps(notes.get('host', {}))}", flush=True)
            runs[side].append(res["metrics"])
            failed[side] += res["failed"]
            incorrect[side] += not res["correct"]
    worse_ops = (failed["change"] > failed["base"]
                 or incorrect["change"] > incorrect["base"])
    print(f"failed ops base/change: {failed['base']}/{failed['change']}; "
          f"incorrect runs base/change: {incorrect['base']}/{incorrect['change']}"
          + ("; the change fails more, so no gain counts" if worse_ops else ""))
    print(f"{'metric':32} {'base med':>11} {'[q1, q3]':>23} {'change med':>11} "
          f"{'[q1, q3]':>23} {'wins':>6}  verdict")
    for n, m in e2e.items():
        bv = [r[n]["value"] for r in runs["base"]]
        cv = [r[n]["value"] for r in runs["change"]]
        lower = m["better"] == "lower"
        wins = sum((c < b) if lower else (c > b) for b, c in zip(bv, cv))
        losses = sum((c > b) if lower else (c < b) for b, c in zip(bv, cv))
        bq1, bmed, bq3 = quartiles(bv)
        cq1, cmed, cq3 = quartiles(cv)
        all_beat = max(cv) < min(bv) if lower else min(cv) > max(bv)
        base_spread = (bq3 - bq1) / abs(bmed) if bmed else float("inf")
        gain = (wins >= 0.9 * len(bv) and abs(cmed - bmed) > (bq3 - bq1))
        worse = (cmed - bmed) / abs(bmed) * (1 if lower else -1) if bmed else 0.0
        if base_spread > m["bound"] and not all_beat:
            verdict = "unresolved (base spread above bound)"
        elif gain:
            verdict = "no gain: change fails more" if worse_ops else "GAIN"
        else:
            verdict = "REGRESSION" if worse > m["bound"] else "within bound"
        print(f"{n:32} {bmed:11.5g} [{bq1:10.5g}, {bq3:10.5g}] {cmed:11.5g} "
              f"[{cq1:10.5g}, {cq3:10.5g}] {wins:2d}/{wins + losses:<3d} {verdict}")


def cmd_overhead(a):
    sp = spec(a.root)
    seconds = a.seconds or sp["run_seconds"]
    names = [m["name"] for m in sp["end_to_end"]]
    plain, traced = [], []
    for s in seeds(a.seeds):
        _, _, r0 = run_once(a.root, a.workload, s, seconds, 0)
        _, n1, _ = run_once(a.root, a.workload, s, seconds, 1)
        plain.append(r0["metrics"])
        traced.append(n1["end_to_end_traced"])
    print(f"{'metric':32} {'untraced':>12} {'traced':>12} {'traced-untraced':>16}")
    for n in names:
        u = statistics.median(r[n]["value"] for r in plain)
        t = statistics.median(r[n]["value"] for r in traced)
        print(f"{n:32} {u:12.5g} {t:12.5g} {t - u:16.5g}")


def cmd_selfcheck(a):
    sp = spec(a.root)
    rc, _, res = run_once(a.root, a.workload, 1, a.seconds or sp["run_seconds"],
                          0, extra=("--wrong-expectation",))
    ok = rc != 0 and not res["correct"]
    print(f"wrong expectation on {a.workload}: exit {rc}, correct="
          f"{res['correct']} -> check {'CAN' if ok else 'CANNOT'} fail")
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="mode", required=True)
    r = sub.add_parser("repeat")
    r.add_argument("--workload", action="append", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--out")
    p = sub.add_parser("pairs")
    p.add_argument("--base", required=True)
    p.add_argument("--change", default=".")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=101)
    o = sub.add_parser("overhead")
    o.add_argument("--workload", required=True)
    o.add_argument("--seeds", default="1-5")
    c = sub.add_parser("selfcheck")
    c.add_argument("--workload", required=True)
    for s in (r, p, o, c):
        s.add_argument("--seconds", type=int)
        s.add_argument("--root", default=os.getcwd())
    a = ap.parse_args()
    {"repeat": cmd_repeat, "pairs": cmd_pairs, "overhead": cmd_overhead,
     "selfcheck": cmd_selfcheck}[a.mode](a)


if __name__ == "__main__":
    main()
