"""Run the benchmark over many seeds and record every run, with each
metric's median, quartiles and spread (IQR ÷ median). Run from the
repository root.

    python3 perfbench/sweep.py --seeds 1-10 --out perfbench/baseline/head.json
    python3 perfbench/sweep.py --seeds 1-2 --trace 1 --workloads lake_read,lake_commits,llm_pipeline

By default it runs BENCHMARK.json's workloads for its `run_seconds`, and
checks each end-to-end spread, except `setup_s`'s, against its bound.
"""
import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def summary(values):
    xs = [v for v in values if v is not None]
    if len(xs) < 2:
        return {"median": xs[0] if xs else None, "values": values}
    q1, _, q3 = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    cp, jars = build.ensure(root)
    record = {"seconds": seconds, "trace": a.trace, "cores": run.cores(), "workloads": {}}
    ok = True
    for w in workloads:
        runs = []
        for s in seeds(a.seeds):
            t0 = time.monotonic()
            full = run.run_jvm(root, cp, jars, w, s, seconds, a.trace, run.RUN_LIMIT_S)
            full["seed"], full["wall_s"] = s, round(time.monotonic() - t0, 3)
            runs.append(full)
            ok &= full["correct"]
            print("%s seed %d: wall %.1f s, correct=%s, attempted=%d, failed=%d" % (
                w, s, full["wall_s"], full["correct"], full["attempted"], full["failed"]), flush=True)
        names = sorted({k for r in runs for k in r["metrics"]})
        metrics = {k: summary([r["metrics"].get(k, {}).get("value") for r in runs]) for k in names}
        record["workloads"][w] = {"runs": runs, "metrics": metrics,
                                  "wall_s": summary([r["wall_s"] for r in runs])}
        print("== %s" % w)
        for m in bench["end_to_end"] if not a.trace else []:
            st = metrics.get(m["name"], {})
            sp = st.get("spread")
            flag = "" if m["name"] == "setup_s" or sp is None or sp <= m["bound"] else "  OVER BOUND"
            ok &= flag == ""
            print("  %-14s median %12.4f %-6s spread %s (bound %.2f)%s" % (
                m["name"], st.get("median") or float("nan"), m["unit"],
                "%.3f" % sp if sp is not None else "n/a", m["bound"], flag))
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(record, fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
