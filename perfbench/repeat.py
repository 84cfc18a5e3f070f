#!/usr/bin/env python3
"""Repeat benchmark runs and compare sets of runs against BENCHMARK.json.

  python3 perfbench/repeat.py run --out base.jsonl [--workloads a,b] [--seeds 1-10] [--trace 0]
  python3 perfbench/repeat.py summary base.jsonl
  python3 perfbench/repeat.py compare base.jsonl new.jsonl

`run` calls run.py once per (workload, seed), with BENCHMARK.json's
run_seconds, and appends each run's full record to the output file.
`summary` prints every end-to-end figure's median, quartiles and spread
(interquartile range over median, the statistic the contract bounds).
`compare` reports each figure of the second set against the first: worse
when its median is worse by more than the figure's bound, better when
better by more than the bound, unresolved when either set's spread exceeds
the bound (unless every run of one set beats every run of the other), and
unchanged otherwise. Figures BENCHMARK.json does not list (freshness,
sustained rate, per-rung latencies, tail latency of batch passes) are
compared at DEFAULT_BOUND and marked as not gated.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_BOUND = 0.25
# Record-only figures where a larger value is better.
HIGHER = {"sustained_rate_per_s", "throughput_per_s"}


def contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def cmd_run(a):
    c = contract()
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in c["workloads"]]
    with open(a.out, "a") as out:
        for w in names:
            for s in seeds(a.seeds):
                p = subprocess.run(["python3", os.path.join(HERE, "run.py"), "--workload", w,
                                    "--seed", str(s), "--seconds", str(c["run_seconds"]),
                                    "--trace", a.trace], cwd=ROOT, capture_output=True, text=True)
                rec = [ln for ln in p.stdout.splitlines() if ln.startswith("PERFBENCH_RECORD ")]
                if p.returncode != 0 or not rec:
                    print(f"{w} seed {s}: FAILED\n{p.stderr[-2000:]}", file=sys.stderr)
                    continue
                out.write(rec[-1][len("PERFBENCH_RECORD "):] + "\n")
                out.flush()
                r = json.loads(rec[-1][len("PERFBENCH_RECORD "):])
                print(f"{w} seed {s}: correct={r['correct']} failed={r['failed']}/{r['attempted']}",
                      file=sys.stderr)


def load(path):
    """{workload: {figure: [values]}} over every record in the file."""
    by = {}
    with open(path) as fh:
        for ln in fh:
            if not ln.strip():
                continue
            r = json.loads(ln)
            figs = by.setdefault(r["workload"], {})
            for k, v in r["e2e"].items():
                if isinstance(v, (int, float)):
                    figs.setdefault(k, []).append(float(v))
            figs.setdefault("fail_ratio", []).append(float(r["fail_ratio"]))
    return by


def quartiles(vs):
    if len(vs) < 2:
        return vs[0], vs[0], vs[0]
    q1, q2, q3 = statistics.quantiles(vs, n=4)
    return q1, q2, q3


def spread(vs):
    q1, q2, q3 = quartiles(vs)
    return (q3 - q1) / abs(q2) if q2 else float("inf") if q3 != q1 else 0.0


def bounds():
    c = contract()
    return {m["name"]: (m["bound"], m["better"] == "higher") for m in c["end_to_end"]}


def cmd_summary(a):
    b = bounds()
    for w, figs in sorted(load(a.file).items()):
        print(f"== {w}")
        print(f"  {'figure':34} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
        for k in sorted(figs):
            vs = figs[k]
            q1, q2, q3 = quartiles(vs)
            bound, _ = b.get(k, (DEFAULT_BOUND, False))
            gate = "" if k in b else " (not gated)"
            sp = spread(vs)
            flag = "" if sp <= bound / 3 else " WIDE" if sp > bound else " >1/3"
            print(f"  {k:34} {len(vs):3d} {q2:12.4f} {q1:12.4f} {q3:12.4f} {sp:7.3f} {bound:6.2f}{flag}{gate}")


def cmd_compare(a):
    b = bounds()
    base, new = load(a.base), load(a.new)
    for w in sorted(set(base) & set(new)):
        print(f"== {w}")
        for k in sorted(set(base[w]) & set(new[w])):
            bv, nv = base[w][k], new[w][k]
            bound, higher = b.get(k, (DEFAULT_BOUND, k in HIGHER))
            mb, mn = statistics.median(bv), statistics.median(nv)
            change = (mn - mb) / abs(mb) if mb else 0.0
            gain = change if higher else -change
            if gain > 0:
                clear = (min(nv) > max(bv)) if higher else (max(nv) < min(bv))
            else:
                clear = (max(nv) < min(bv)) if higher else (min(nv) > max(bv))
            if max(spread(bv), spread(nv)) > bound and not clear:
                verdict = "unresolved"
            elif gain < -bound:
                verdict = "WORSE"
            elif gain > bound:
                verdict = "better"
            else:
                verdict = "unchanged"
            gate = "" if k in b else " (not gated)"
            print(f"  {k:34} {mb:12.4f} -> {mn:12.4f} {change:+8.1%} bound {bound:.2f}  {verdict}{gate}")


def main():
    ap = argparse.ArgumentParser(description="repeat and compare benchmark runs")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--out", required=True)
    r.add_argument("--workloads", default="")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace", default="0", choices=("0", "1"))
    s = sub.add_parser("summary")
    s.add_argument("file")
    c = sub.add_parser("compare")
    c.add_argument("base")
    c.add_argument("new")
    a = ap.parse_args()
    {"run": cmd_run, "summary": cmd_summary, "compare": cmd_compare}[a.cmd](a)


if __name__ == "__main__":
    main()
