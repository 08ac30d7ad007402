#!/usr/bin/env python3
"""Compare two sets of benchmark records (perfbench/out/records/*.json).

    python3 perfbench/compare.py --a A1.json A2.json ... --b B1.json B2.json ...

With --overhead, A holds untraced and B traced runs of one program, and
the changes printed are the tracing overhead.

Refuses, with exit code 2, to compare a set with itself (any record in
both sets) or sets whose settings differ: workload, run length, trace
mode, CPU count, Spark master, effective Spark conf, benchmark sources.
Otherwise prints, per end-to-end metric, each side's median and
quartiles and the change of the medians. When both sides ran the same
program the comparison is labelled a noise check (A/A), never a gain.
"""
import argparse
import hashlib
import json
import statistics
import sys

SETTINGS = ("workload", "seconds", "trace", "nproc", "master", "conf", "bench_sha", "spec",
            "setup_reps", "warmup_batches")


def load(paths):
    recs = []
    for p in paths:
        with open(p, "rb") as fh:
            raw = fh.read()
        rec = json.loads(raw)
        rec["_id"] = hashlib.sha256(raw).hexdigest()
        rec["_path"] = p
        recs.append(rec)
    return recs


def settings(rec):
    prov = rec["provenance"]
    return {k: prov.get(k) for k in SETTINGS}


def refuse(msg):
    print("compare: refused: " + msg, file=sys.stderr)
    sys.exit(2)


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q = statistics.quantiles(vals, n=4)
    return q[0], statistics.median(vals), q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--a", nargs="+", required=True)
    ap.add_argument("--b", nargs="+", required=True)
    ap.add_argument("--overhead", action="store_true",
                    help="A untraced, B traced: report the tracing overhead")
    args = ap.parse_args()
    a, b = load(args.a), load(args.b)

    shared = {r["_id"] for r in a} & {r["_id"] for r in b}
    if shared:
        refuse("%d record(s) are in both sets; a set compared with itself shows no change "
               "whatever the program does" % len(shared))
    ref = settings(a[0])
    ignored = {"trace"} if args.overhead else set()
    if args.overhead and ({r["provenance"]["trace"] for r in a} != {0}
                          or {r["provenance"]["trace"] for r in b} != {1}):
        refuse("--overhead needs untraced runs in A and traced runs in B")
    for rec in a + b:
        diff = [k for k, v in settings(rec).items() if v != ref[k] and k not in ignored]
        if diff:
            refuse("%s differs from %s in %s" % (rec["_path"], a[0]["_path"], ", ".join(diff)))

    programs = ({r["provenance"]["program_sha"] for r in a}, {r["provenance"]["program_sha"] for r in b})
    same_program = programs[0] == programs[1] and len(programs[0]) == 1
    if args.overhead and not same_program:
        refuse("--overhead needs one program on both sides")
    print("workload %s, %d vs %d runs, %s" % (ref["workload"], len(a), len(b),
          "tracing overhead (B traced minus A untraced)" if args.overhead
          else "same program on both sides: noise check (A/A)" if same_program
          else "programs %s vs %s" % (sorted(programs[0]), sorted(programs[1]))))
    for name in a[0]["end_to_end"]:
        va = [r["end_to_end"][name]["value"] for r in a]
        vb = [r["end_to_end"][name]["value"] for r in b]
        qa, qb = quartiles(va), quartiles(vb)
        unit = a[0]["end_to_end"][name]["unit"]
        print("  %-14s A %.4g [%.4g, %.4g]  B %.4g [%.4g, %.4g] %s  change %+.4g %s (%+.2f%%)" % (
            name, qa[1], qa[0], qa[2], qb[1], qb[0], qb[2], unit, qb[1] - qa[1], unit,
            100.0 * (qb[1] / qa[1] - 1.0)))
    failed = [r["_path"] for r in a + b if not r["result"]["correct"]]
    if failed:
        print("  incorrect runs: " + ", ".join(failed))


if __name__ == "__main__":
    main()
