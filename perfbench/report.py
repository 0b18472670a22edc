#!/usr/bin/env python3
"""Repeat runs, steadiness report and parent-vs-change comparison.

    # run the benchmark for each workload and seed, appending to a JSONL file
    python3 perfbench/report.py run --seeds 1-10 --out runs.jsonl \\
        [--workloads relational_batch,serve_mixed] [--trace 1]

    # median and quartiles of each metric per workload, and each
    # end-to-end metric's spread against its bound in BENCHMARK.json
    python3 perfbench/report.py summary runs.jsonl [--json out.json]

    # per workload and end-to-end metric: gain / no regression /
    # regression / unresolved (runs paired by seed)
    python3 perfbench/report.py compare parent.jsonl change.jsonl

Run from the repository root. For a comparison, alternate which commit
runs first for each seed and use the same --seconds on both.
"""
import argparse
import json
import os
import subprocess
import sys

import benchlib as bl

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def cmd_run(a):
    b = spec()
    workloads = a.workloads.split(",") if a.workloads else [
        w["name"] for w in b["workloads"]]
    with open(a.out, "a") as out:
        for seed in seeds(a.seeds):
            for w in workloads:
                p = subprocess.run(
                    b["command"] + ["--workload", w, "--seed", str(seed),
                                    "--seconds", str(b["run_seconds"]),
                                    "--trace", str(a.trace)],
                    cwd=ROOT, stdout=subprocess.PIPE, text=True)
                lines = p.stdout.strip().splitlines()
                result = json.loads(lines[-1]) if p.returncode == 0 and lines \
                    else None
                out.write(json.dumps({"workload": w, "seed": seed,
                                      "trace": a.trace, "rc": p.returncode,
                                      "result": result}) + "\n")
                out.flush()
                print(f"{w} seed {seed}: rc {p.returncode}", file=sys.stderr)
    cmd_summary(argparse.Namespace(files=[a.out], json=None))


def summarize(rows):
    """workload -> metric -> stats, plus operation totals."""
    out = {}
    for r in rows:
        w = out.setdefault(r["workload"], {"runs": 0, "correct": 0,
                                           "attempted": 0, "failed": 0,
                                           "metrics": {}})
        w["runs"] += 1
        res = r["result"]
        if res is None:
            continue
        w["correct"] += int(res["correct"])
        w["attempted"] += res["attempted"]
        w["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            m = w["metrics"].setdefault(k, {"unit": v["unit"], "values": []})
            m["values"].append(v["value"])
    for w in out.values():
        for m in w["metrics"].values():
            q1, med, q3 = bl.quartiles(m["values"])
            m.update(q1=q1, median=med, q3=q3, spread=bl.spread(m["values"]))
    return out


def cmd_summary(a):
    rows = [r for f in a.files for r in load(f)]
    s = summarize(rows)
    bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    for w, ws in sorted(s.items()):
        print(f"\n{w}: {ws['runs']} runs, {ws['correct']} correct, "
              f"{ws['failed']}/{ws['attempted']} operations failed")
        print(f"  {'metric':34s} {'unit':6s} {'median':>12s} {'q1':>12s} "
              f"{'q3':>12s} {'spread':>7s} {'bound':>6s}")
        for k, m in sorted(s[w]["metrics"].items()):
            b = bounds.get(k)
            flag = "" if b is None else (
                "  ok" if m["spread"] <= b / 3 else
                "  within bound" if m["spread"] <= b else "  TOO WIDE")
            print(f"  {k:34s} {m['unit']:6s} {m['median']:12.4f} "
                  f"{m['q1']:12.4f} {m['q3']:12.4f} {m['spread']:7.3f} "
                  f"{'' if b is None else b:>6}{flag}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump(s, f, indent=1, sort_keys=True)


def run_state(row):
    """None for a complete, correct run; else why it is not."""
    if row["result"] is None:
        return f"crashed (rc {row['rc']})"
    if not row["result"]["correct"]:
        return "wrong answers"
    return None


def cmd_compare(a):
    parent, change = load(a.parent), load(a.change)
    b = spec()
    print(f"{'workload':18s} {'metric':20s} {'verdict':14s} {'wins':>6s} "
          f"{'parent':>12s} {'change':>12s} {'rel':>7s}")
    for w in [x["name"] for x in b["workloads"]]:
        sides = []
        for rows in (parent, change):
            runs = {r["seed"]: r for r in rows
                    if r["workload"] == w and not r["trace"]}
            bad = {s: run_state(r) for s, r in runs.items() if run_state(r)}
            good = {s: r["result"] for s, r in runs.items() if s not in bad}
            sides.append((runs, bad, good))
        (p_runs, p_bad, pr), (c_runs, c_bad, cr) = sides
        if not p_runs and not c_runs:
            continue
        for name, runs, bad in (("parent", p_runs, p_bad),
                                ("change", c_runs, c_bad)):
            print(f"{w:18s} {name + ' runs':20s} {len(runs) - len(bad)} of "
                  f"{len(runs)} complete and correct" + "".join(
                      f"; seed {s} {why}" for s, why in sorted(bad.items())))
        common = sorted(set(pr) & set(cr))
        # a change that completes fewer runs than its parent, or too few
        # pairs to count nine wins in ten, cannot claim a gain
        can_gain = len(cr) >= len(pr) and len(common) >= 10
        if c_bad:
            print(f"{w:18s} {'runs':20s} regression     change failed on "
                  f"seeds {sorted(c_bad)}")
        if not common:
            continue
        for m in b["end_to_end"]:
            p = [pr[s]["metrics"][m["name"]]["value"] for s in common]
            c = [cr[s]["metrics"][m["name"]]["value"] for s in common]
            v = bl.compare(p, c, m["better"], m["bound"], can_gain)
            print(f"{w:18s} {m['name']:20s} {v['verdict']:14s} "
                  f"{v['wins']:>3d}/{v['pairs']:<2d} {v['parent_median']:12.4f} "
                  f"{v['change_median']:12.4f} {v['change_rel']:+7.3f}")
        pf = sum(pr[s]["failed"] for s in common)
        cf = sum(cr[s]["failed"] for s in common)
        print(f"{w:18s} {'failed operations':20s} parent {pf}, change {cf}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    r.add_argument("--workloads", default="")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", required=True)
    s = sub.add_parser("summary")
    s.add_argument("files", nargs="+")
    s.add_argument("--json")
    c = sub.add_parser("compare")
    c.add_argument("parent")
    c.add_argument("change")
    a = ap.parse_args()
    {"run": cmd_run, "summary": cmd_summary, "compare": cmd_compare}[a.cmd](a)


if __name__ == "__main__":
    main()
