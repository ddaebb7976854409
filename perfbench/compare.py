#!/usr/bin/env python3
"""Compare sets of benchmark runs.

Run sets of runs, interleaved (in one checkout, or in two checkouts A and B
alternating which runs first), each run with its own seed:

    python3 perfbench/compare.py run --workload bulk_load --runs 10 --out a.jsonl
    python3 perfbench/compare.py run --workload bulk_load --runs 10 \\
        --a /path/to/parent --b . --out pair.jsonl

Check that one set is steady: each end-to-end metric's spread (quartile
distance over median) against its bound and a third of it:

    python3 perfbench/compare.py steady a.jsonl

Label every (workload, end-to-end metric) improved, within_bound,
regressed or unresolved by the rule of the choosing-metrics guide,
section 8 (see metrics.label). With one file holding both sides of
interleaved pairs, the pairs are matched by seed:

    python3 perfbench/compare.py label pair.jsonl
    python3 perfbench/compare.py label a.jsonl b.jsonl

Two sets of runs of the same commit must come out without an `improved`
or `regressed` label. Tracing overhead: the traced runs' end-to-end
medians against the untraced runs', from the run records run.py keeps:

    python3 perfbench/compare.py overhead [--newest N] [.perfbench/runs]
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def spec_of(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def one_run(root, workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--trace", str(trace)]
    if seconds is not None:
        cmd += ["--seconds", str(seconds)]
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return {"workload": workload, "seed": seed, "trace": trace, "exit": p.returncode,
            "result": result}


def cmd_run(a):
    sides = [("a", os.path.abspath(a.a))] + ([("b", os.path.abspath(a.b))] if a.b else [])
    with open(a.out, "a") as out:
        for i in range(a.runs):
            seed = a.seed0 + i
            order = sides if i % 2 == 0 else sides[::-1]
            for side, root in order:
                rec = one_run(root, a.workload, seed, a.seconds, a.trace)
                rec["side"] = side
                out.write(json.dumps(rec) + "\n")
                out.flush()
                ok = rec["result"] is not None and rec["result"]["correct"]
                print(f"{a.workload} seed {seed} side {side}: exit {rec['exit']}, "
                      f"correct {ok}", file=sys.stderr)


def load(paths):
    recs = []
    for p in paths:
        with open(p) as f:
            recs.extend(json.loads(line) for line in f if line.strip())
    return [r for r in recs if r["result"] is not None]


def values(recs, workload, metric):
    return [r["result"]["metrics"][metric]["value"] for r in recs
            if r["workload"] == workload and metric in r["result"]["metrics"]]


def cmd_steady(a):
    spec = spec_of(a.root)
    recs = load(a.files)
    worst = 0.0
    print(f"{'workload':14} {'metric':20} {'n':>3} {'median':>14} {'spread':>8} "
          f"{'bound':>6}  verdict")
    for w in sorted({r["workload"] for r in recs}):
        for m in spec["end_to_end"]:
            vs = values(recs, w, m["name"])
            if len(vs) < 2:
                continue
            spread = metrics.quartile_spread(vs)
            if m["name"] == "setup_s":
                verdict = "not checked"
            elif spread <= m["bound"] / 3:
                verdict = "steady"
            elif spread <= m["bound"]:
                verdict = "within bound, above a third of it"
            else:
                verdict = "TOO WIDE"
            if m["name"] != "setup_s":
                worst = max(worst, spread / m["bound"])
            print(f"{w:14} {m['name']:20} {len(vs):3d} {statistics.median(vs):14.4f} "
                  f"{spread:8.4f} {m['bound']:6.2f}  {verdict}")
    failed = sum(1 for r in recs if not r["result"]["correct"])
    print(f"runs {len(recs)}, incorrect {failed}, widest spread = {worst:.2f} of its bound")


def cmd_label(a):
    spec = spec_of(a.root)
    if len(a.files) == 2:
        pa, pb = load([a.files[0]]), load([a.files[1]])
    else:
        both = load(a.files)
        pa = [r for r in both if r.get("side") == "a"]
        pb = [r for r in both if r.get("side") == "b"]
    for w in sorted({r["workload"] for r in pa} & {r["workload"] for r in pb}):
        for m in spec["end_to_end"]:
            va, vb = values(pa, w, m["name"]), values(pb, w, m["name"])
            if len(va) < 2 or len(vb) < 2:
                continue
            by_seed_a = {r["seed"]: r["result"]["metrics"][m["name"]]["value"]
                         for r in pa if r["workload"] == w}
            pairs = [(by_seed_a[r["seed"]], r["result"]["metrics"][m["name"]]["value"])
                     for r in pb if r["workload"] == w and r["seed"] in by_seed_a]
            verdict = metrics.label(va, vb, m["better"], m["bound"], pairs or None)
            print(f"{w:14} {m['name']:20} A {statistics.median(va):14.4f}  "
                  f"B {statistics.median(vb):14.4f}  {verdict}")


def cmd_overhead(a):
    spec = spec_of(a.root)
    runs = []
    for name in sorted(os.listdir(a.runs_dir)):
        if name.endswith(".json"):
            with open(os.path.join(a.runs_dir, name)) as f:
                runs.append(json.load(f))
    # only runs of the sources the newest run measured; with --newest, only
    # that many of the latest runs (say, a set of interleaved traced and
    # untraced runs, so that drift in the machine's speed cancels)
    if runs:
        runs = [r for r in runs if r["source_sha256"] == runs[-1]["source_sha256"]]
    if a.newest:
        runs = runs[-a.newest:]
    for w in sorted({r["workload"] for r in runs}):
        for m in spec["end_to_end"]:
            off = [r["end_to_end"][m["name"]] for r in runs
                   if r["workload"] == w and r["trace"] == 0]
            on = [r["end_to_end"][m["name"]] for r in runs
                  if r["workload"] == w and r["trace"] == 1]
            if off and on:
                base = statistics.median(off)
                ratio = statistics.median(on) / base if base else float("nan")
                print(f"{w:14} {m['name']:20} untraced {base:14.4f} (n={len(off)})  "
                      f"traced {statistics.median(on):14.4f} (n={len(on)})  ratio {ratio:.3f}")


def main():
    ap = argparse.ArgumentParser(description="Compare sets of benchmark runs.")
    ap.add_argument("--root", default=os.path.dirname(HERE),
                    help="checkout whose BENCHMARK.json gives the metrics and bounds")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--seed0", type=int, default=1)
    r.add_argument("--seconds", type=float, default=None)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--a", default=os.path.dirname(HERE))
    r.add_argument("--b", default=None)
    r.add_argument("--out", required=True)
    s = sub.add_parser("steady")
    s.add_argument("files", nargs="+")
    lb = sub.add_parser("label")
    lb.add_argument("files", nargs="+")
    o = sub.add_parser("overhead")
    o.add_argument("--newest", type=int, default=0)
    o.add_argument("runs_dir", nargs="?", default=os.path.join(os.path.dirname(HERE),
                                                              ".perfbench", "runs"))
    a = ap.parse_args()
    {"run": cmd_run, "steady": cmd_steady, "label": cmd_label, "overhead": cmd_overhead}[a.cmd](a)


if __name__ == "__main__":
    main()
