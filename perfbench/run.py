"""Workload benchmark for graft. Run from the repository root.

One workload, one seed (the last stdout line is the result object):

    python3 perfbench/run.py --workload lake_read --seed 1 --seconds 20 --trace 0

Every workload, untraced then traced, with all end-to-end metrics under
their own names, the per-layer metrics and the tracing overhead:

    python3 perfbench/run.py --workload all --seed 1 --seconds 20

`--trace 0` reports BENCHMARK.json's `end_to_end` metrics, `--trace 1`
its `per_layer` metrics. The program is built from source on first use
(see build.py).
"""
import argparse
import json
import os
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["lake_read", "lake_commits", "llm_pipeline"]
# a run must end within 180 s; the JVM is stopped before that
RUN_LIMIT_S = 172
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(root, cp, jars, workload, seed, seconds, trace, limit_s):
    """Run one workload in a fresh JVM; returns the full result object."""
    work = os.path.join(root, build.OUT, "run", workload)
    result = work + ".result.json"
    if os.path.exists(result):
        os.remove(result)
    tmp = os.path.join(work + ".tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx" + HEAP, "-Xss8m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp + [os.path.join(jars, "*")]), "graftbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--cores", str(cores()), "--work", work, "--result", result])
    # every file a run writes stays under `work`: SPARK_LOCAL_DIRS would
    # override the session's spark.local.dir
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, limit_s))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError("workload %s did not finish within %.0f s" % (workload, limit_s))
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code != 0:
        raise RuntimeError("workload %s exited with code %d" % (workload, code))
    with open(result) as fh:
        return json.load(fh)


def select(full, spec):
    """The result object with exactly the metrics `spec` names."""
    got = full["metrics"]
    metrics = {}
    for m in spec:
        v = got.get(m["name"])
        if v is None or v["value"] is None:
            raise RuntimeError("metric %s was not measured" % m["name"])
        if v["unit"] != m["unit"]:
            raise RuntimeError("metric %s is in %s, expected %s" % (m["name"], v["unit"], m["unit"]))
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    return {"correct": full["correct"], "attempted": full["attempted"],
            "failed": full["failed"], "metrics": metrics}


def layer_spec(bench, full):
    """Per-layer metrics: a layer or op kind the run did not exercise reads 0."""
    got = full["metrics"]
    for m in bench["per_layer"]:
        if got.get(m["name"], {}).get("value") is None:
            got[m["name"]] = {"value": 0.0, "unit": m["unit"]}
    return bench["per_layer"]


def run_all(root, cp, jars, bench, seed, seconds):
    """Every workload untraced and traced; prints the full metric set."""
    record = {"seed": seed, "seconds": seconds, "cores": cores(), "workloads": {}}
    for w in WORKLOADS:
        plain = run_jvm(root, cp, jars, w, seed, seconds, 0, RUN_LIMIT_S)
        traced = run_jvm(root, cp, jars, w, seed, seconds, 1, RUN_LIMIT_S)
        overhead = {k: traced["metrics"][k]["value"] - plain["metrics"][k]["value"]
                    for k in ("op_ms_p50", "items_per_s")}
        record["workloads"][w] = {"untraced": plain, "traced": traced, "tracing_overhead": overhead}
    print()
    for w, r in record["workloads"].items():
        print("== %s: correct=%s attempted=%d failed=%d" % (
            w, r["untraced"]["correct"], r["untraced"]["attempted"], r["untraced"]["failed"]))
        for k, v in r["untraced"]["metrics"].items():
            print("  %-28s %14.4f %s" % (k, v["value"] if v["value"] is not None else float("nan"), v["unit"]))
        print("  tracing overhead: op_ms_p50 %+.4f ms, items_per_s %+.4f 1/s" % (
            r["tracing_overhead"]["op_ms_p50"], r["tracing_overhead"]["items_per_s"]))
    ok = all(r["untraced"]["correct"] and r["traced"]["correct"] for r in record["workloads"].values())
    out = os.path.join(root, build.OUT, "all-seed%d.json" % seed)
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1)
    print("full record: %s" % os.path.relpath(out, root))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
        cp, jars = build.ensure(root)
        if a.workload == "all":
            return run_all(root, cp, jars, bench, a.seed, seconds)
        full = run_jvm(root, cp, jars, a.workload, a.seed, seconds, a.trace, RUN_LIMIT_S)
        spec = layer_spec(bench, full) if a.trace else bench["end_to_end"]
        out = select(full, spec)
    except (build.BuildError, RuntimeError, OSError, KeyError, ValueError) as e:
        print("graftbench: %s" % e, file=sys.stderr)
        return 2
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
