#!/usr/bin/env python3
"""Crawl-engine benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source (perfbench/build.py), runs
one benchmark JVM on local[<cores>] (one Spark application, one closed-loop
job stream), checks the program's outputs, samples CPU steal from /proc/stat
over the run window, and prints each metric with its unit. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
its per-layer metrics, and writes the run's spans to
.bench_build/perfbench/spans/.

`--record` stores the run's per-seed gate values in perfbench/expected.json
instead of checking them. Exit codes: 0 correct, 2 build failed, 3 a
correctness gate failed, 4 timeout, 5 the benchmark process failed or
left out a metric.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
sys.dont_write_bytecode = True
import build  # noqa: E402

OUT = build.OUT
EXPECTED = BENCH / "expected.json"
STEAL_FLAG_PCT = 1.0
# seconds the benchmark process may take. The slowest loop run seen on a
# shared 4-core box took 121 s at 10% steal (polite-loop with twice today's
# seeds per round); a run must end within 180 s in all, so the limit leaves
# a few seconds for the launcher to report.
TIMEOUT_S = 175

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# repository's build.sbt)
ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def cpu_times():
    """(steal, total) jiffies of the whole box from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def load_json(path, default):
    return json.loads(path.read_text()) if path.is_file() else default


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    spec = load_json(ROOT / "BENCHMARK.json", None)
    if spec is None:
        sys.exit("BENCHMARK.json missing")
    metrics = spec["per_layer"] if a.trace else spec["end_to_end"]

    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)

    tag = f"{a.workload}-seed{a.seed}"
    run_dir = OUT / "runs" / f"{tag}-trace{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    result_file = run_dir / "result.json"
    spans_file = OUT / "spans" / f"{tag}.json"
    # no hsperfdata file: the JVM would write it outside the checkout
    cmd = ["java", *ADD_OPENS, "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-cp", cp, "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--cores", str(a.cores), "--work", str(run_dir / "work"),
           "--result", str(result_file), "--spans", str(spans_file),
           "--launch-ms", str(int(time.time() * 1000))]
    steal0, total0 = cpu_times()
    # the JVM's stdout goes to stderr: the result line stays the last one
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=ROOT)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"benchmark process exceeded {TIMEOUT_S} s", file=sys.stderr)
        sys.exit(4)
    steal1, total1 = cpu_times()
    steal_pct = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    if not result_file.is_file() or code not in (0, 3):
        print(f"benchmark process exited {code} without a result", file=sys.stderr)
        sys.exit(5)
    res = json.loads(result_file.read_text())
    shutil.rmtree(run_dir, ignore_errors=True)

    # per-seed recorded values: the same seed and input size must reproduce
    # them exactly
    expected = load_json(EXPECTED, {})
    gates = res["gates"]
    key = f"{a.seed}/{res['recorded'].pop('input')}"
    if a.record:
        expected.setdefault(a.workload, {})[key] = res["recorded"]
        EXPECTED.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    else:
        want = expected.get(a.workload, {}).get(key)
        if want is None:
            print(f"note: {key} has no recorded values; invariant gates only")
        else:
            for k, v in sorted(want.items()):
                got = res["recorded"].get(k)
                gates.append({"name": f"recorded.{k}", "ok": got == v,
                              "detail": f"got {got}, recorded {v}"})
    for g in gates:
        if not g["ok"]:
            print(f"GATE FAILED {g['name']}: {g['detail']}", file=sys.stderr)
    correct = all(g["ok"] for g in gates)

    values = dict(res["e2e"])
    if a.trace:
        values = dict(res["layer"])
        values["box.steal_pct"] = steal_pct
        base = load_json(OUT / "untraced" / f"{a.workload}.json", None)
        values["trace.overhead_pct"] = (
            100.0 * (res["timed_s"] - base["timed_s"]) / base["timed_s"]
            if base and (base["seconds"], base.get("cores")) == (a.seconds, a.cores) else 0.0)
        print(f"spans: {spans_file.relative_to(ROOT)}")
    elif correct:
        (OUT / "untraced").mkdir(parents=True, exist_ok=True)
        (OUT / "untraced" / f"{a.workload}.json").write_text(json.dumps(
            {"seed": a.seed, "seconds": a.seconds, "cores": a.cores,
             "timed_s": res["timed_s"]}))

    out = {}
    for m in metrics:
        v = values.get(m["name"])
        if v is None:
            print(f"metric {m['name']} missing from the run", file=sys.stderr)
            sys.exit(5)
        out[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{a.workload} {m['name']} = {v:.6g} {m['unit']}")
    flagged = steal_pct >= STEAL_FLAG_PCT
    print(f"steal {steal_pct:.2f}% of box CPU over the run window"
          + (" -- FLAGGED: timings taken under steal" if flagged else ""))

    record = {"time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "cores": a.cores, "steal_pct": steal_pct,
              "steal_flagged": flagged, "correct": correct,
              "setup_runs_s": res["setup_runs_s"], "timed_s": res["timed_s"],
              "metrics": {k: v["value"] for k, v in out.items()},
              "recorded": res["recorded"]}
    with open(OUT / "runs.jsonl", "a") as f:
        f.write(json.dumps(record, sort_keys=True) + "\n")

    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": out}))
    sys.exit(0 if correct else 3)


if __name__ == "__main__":
    main()
