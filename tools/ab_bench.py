#!/usr/bin/env python3
"""A/B-compare graft's benchmark between a parent checkout and this one.

    git archive <parent-rev> | (mkdir -p ../parent && tar -x -C ../parent)
    python3 tools/ab_bench.py --parent ../parent --workload etl_sync \
        --seeds 209-212,214-219 --log ab.jsonl

Runs `perfbench/run.py` (untraced, at BENCHMARK.json's `run_seconds`) on
both checkouts for one pair per seed, alternating which side runs first.
Every run is appended to the `--log` file as one JSON line, and
`--from-log` re-reads such a file without running anything. For each
workload and end-to-end metric it prints both sides' medians and quartiles
(Python's `statistics.quantiles`), the share of pairs the change won (ties
count for neither side) and two verdicts:

- gain: the change won at least 9 of 10 of all pairs run (a pair where
  either side produced no result is not a win) and its median beats the
  parent's by more than the parent's interquartile range;
- bound: `EXCEEDED` when the change's median is worse than the parent's
  by more than the metric's `bound` in BENCHMARK.json; otherwise
  `unresolved` when the parent's interquartile range, as a share of its
  median, is wider than the bound and some change run does not beat every
  parent run; otherwise `ok`.

It also prints the share of failed operations per side and, from the
`op <name> median=...` lines perfbench prints before its JSON line (kept
in each log record as `ops`), a table of every operation's median seconds
per side: which operation moved, without a traced run. It reads only
BENCHMARK.json and perfbench/ of each checkout.
"""
import argparse
import json
import pathlib
import re
import statistics
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def seeds_arg(text):
    """'209-212,214' -> [209, 210, 211, 212, 214]"""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


OP_LINE = re.compile(r"^op (\S+) median=([0-9.eE+-]+) ")


def run_once(checkout, workload, seed, seconds):
    """One untraced run: its result JSON (None when it produced none) and
    each operation's median seconds from its `op` lines."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    ops = {m.group(1): float(m.group(2)) for m in map(OP_LINE.match, lines) if m}
    if proc.returncode not in (0, 1) or not lines or not lines[-1].startswith("{"):
        return None, ops
    return json.loads(lines[-1]), ops


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def op_table(w, runs):
    """Per operation: the median over runs of each run's median seconds."""
    per = {}
    for r in runs:
        if r["workload"] == w:
            for op, sec in r.get("ops", {}).items():
                per.setdefault(op, {}).setdefault(r["side"], []).append(sec)
    if not per:
        return
    print(f"  {'op':12s} {'parent s':>9s} {'change s':>9s}  ratio  runs")
    for op in sorted(per):
        par, chg = per[op].get("parent", []), per[op].get("change", [])
        if par and chg:
            pm, cm = statistics.median(par), statistics.median(chg)
            ratio = f"{cm / pm:.3f}" if pm else "  -  "
            print(f"  {op:12s} {pm:9.4f} {cm:9.4f}  {ratio}  {len(par)}/{len(chg)}")


def report(runs, bench):
    """Print the comparison; return True when every bound is `ok`."""
    metrics = bench["end_to_end"]
    ok = True
    for w in sorted({r["workload"] for r in runs}):
        pairs = {}
        for r in runs:
            if r["workload"] == w:
                pairs.setdefault((r["seed"], r["pair"]), {})[r["side"]] = r["result"]
        pairs = [p for p in pairs.values() if "parent" in p and "change" in p]
        print(f"\n{w}: {len(pairs)} pairs")
        for side in ("parent", "change"):
            res = [p[side] for p in pairs]
            att = sum(r["attempted"] if r else 0 for r in res)
            fail = sum(r["failed"] if r else 0 for r in res)
            missing = sum(r is None for r in res)
            print(f"  {side}: failed {fail}/{att} operations, {missing} runs without a result")
            ok &= fail == 0 and missing == 0
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            both = [(p["parent"]["metrics"][name]["value"], p["change"]["metrics"][name]["value"])
                    for p in pairs if p["parent"] and p["change"]]
            if not both:
                continue
            par, chg = [b[0] for b in both], [b[1] for b in both]
            pm, cm = statistics.median(par), statistics.median(chg)
            (pq1, pq3), (cq1, cq3) = quartiles(par), quartiles(chg)
            wins = sum((c < p) if lower else (c > p) for p, c in both)
            gap = (pm - cm) if lower else (cm - pm)
            gain = wins >= 0.9 * len(pairs) and gap > pq3 - pq1
            worse = (cm - pm) / pm if lower else (pm - cm) / pm
            dominates = max(chg) < min(par) if lower else min(chg) > max(par)
            if worse > m["bound"]:
                verdict = "EXCEEDED"
            elif (pq3 - pq1) / pm > m["bound"] and not dominates:
                verdict = "unresolved"
            else:
                verdict = "ok"
            ok &= verdict == "ok"
            print(f"  {name:12s} parent {pm:9.3f} [{pq1:.3f}, {pq3:.3f}]  "
                  f"change {cm:9.3f} [{cq1:.3f}, {cq3:.3f}] {m['unit']}  "
                  f"ratio {cm / pm:.3f}  wins {wins}/{len(pairs)}  "
                  f"gain {'yes' if gain else 'no'}  "
                  f"bound {m['bound']:.2f} {verdict}")
        op_table(w, runs)
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", help="root of the parent checkout")
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable; default: every workload in BENCHMARK.json)")
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("209-212,214-219"),
                    help="one pair per listed seed, e.g. 209-212,214-219 (a seed may repeat)")
    ap.add_argument("--log", help="append every run to this JSON-lines file")
    ap.add_argument("--from-log", help="report on a log written earlier; run nothing")
    a = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.from_log:
        runs = [json.loads(l) for l in pathlib.Path(a.from_log).read_text().splitlines() if l]
        sys.exit(0 if report(runs, bench) else 1)
    if not a.parent:
        ap.error("--parent is required unless --from-log is given")
    parent = pathlib.Path(a.parent).resolve()
    if not (parent / "perfbench" / "run.py").is_file():
        ap.error(f"{parent} holds no perfbench/run.py")
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    log = open(a.log, "a") if a.log else None
    runs = []
    for w in workloads:
        for i, seed in enumerate(a.seeds):
            order = [("parent", parent), ("change", ROOT)]
            for side, checkout in (order if i % 2 == 0 else order[::-1]):
                result, ops = run_once(checkout, w, seed, bench["run_seconds"])
                run = {"workload": w, "seed": seed, "pair": i, "side": side, "result": result,
                       "ops": ops}
                runs.append(run)
                rs = result["metrics"]["round_s"]["value"] if result else None
                print(f"{w} seed {seed} {side}: round_s {rs}", flush=True)
                if log:
                    log.write(json.dumps(run) + "\n")
                    log.flush()
    sys.exit(0 if report(runs, bench) else 1)


if __name__ == "__main__":
    main()
