"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source (perfbench/build.py),
runs the workload in one JVM, checks its outputs, and prints one metric per
line followed by a last line of JSON:

    {"correct": true, "attempted": .., "failed": .., "metrics": {name: {"value": .., "unit": ..}}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list; with
--trace 1 its per_layer list. The traced run also writes its spans to
.bench_build/traces/<workload>-seed<n>.jsonl and derives each layer's self
time from that file. Must be run from a checkout that holds the program's
sources; everything it writes stays under .bench_build.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
from collections import defaultdict
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
BUILD_DIR = ROOT / ".bench_build"
JVM_TIMEOUT_S = 165
HEAP = "3g"
# Spark on JDK 17 outside spark-submit; matches build.sbt's jdk17AddOpens
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# self time per layer, from spans under each measured pass
SELF_METRICS = {
    "bench": "bench.self_s", "io": "io.self_s", "checks": "checks.self_s", "agg": "agg.self_s",
    "ops": "ops.self_s", "spark.job": "spark.job_self_s", "spark.stage": "spark.stage_self_s",
}


def self_times(span_file):
    """Median over traced passes of each layer's self time: a span's
    duration minus the part of it that its children cover."""
    spans = [json.loads(line) for line in span_file.read_text().splitlines() if line]
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)

    def own(s):
        lo, hi = s["start_us"], s["end_us"]
        covered, cur_lo, cur_hi = 0, None, None
        for c in sorted(children[s["id"]], key=lambda c: c["start_us"]):
            a, b = max(lo, c["start_us"]), min(hi, c["end_us"])
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                covered += 0 if cur_hi is None else cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        covered += 0 if cur_hi is None else cur_hi - cur_lo
        return (hi - lo - covered) / 1e6

    per_pass = []
    by_name = defaultdict(float)
    passes = [s for s in spans if s["layer"] == "bench" and s["name"].startswith("pass ")]
    for p in passes:
        acc = defaultdict(float)
        stack = [p]
        while stack:
            s = stack.pop()
            t = own(s)
            acc[s["layer"]] += t
            by_name[(s["layer"], s["name"])] += t / len(passes)
            stack.extend(children[s["id"]])
        per_pass.append(acc)
    top = sorted(by_name.items(), key=lambda kv: -kv[1])[:20]
    print("self time per pass by span (s):", file=sys.stderr)
    for (layer, name), t in top:
        print(f"  {t:9.4f}  {layer:12s} {name}", file=sys.stderr)
    return {m: statistics.median(p[layer] for p in per_pass) for layer, m in SELF_METRICS.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        sys.exit(f"unknown workload {args.workload}")
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    classes, jar_dir = build.build(BUILD_DIR)
    work = BUILD_DIR / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    spans = BUILD_DIR / "traces" / f"{args.workload}-seed{args.seed}.jsonl"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
              f"-Dlog4j2.configurationFile={ROOT / 'perfbench' / 'log4j2.properties'}",
              "-cp", os.pathsep.join([str(classes), str(jar_dir / "*")]),
              "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", str(work), "--spans", str(spans)])
    try:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            sys.exit(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    results = [i for i, line in enumerate(lines) if line.startswith('{"correct"')]
    if proc.returncode != 0 or not results:
        sys.exit(f"benchmark JVM failed with exit code {proc.returncode}")
    for line in lines[:results[-1]]:
        print(line)
    result = json.loads(lines[results[-1]])
    raw = result["metrics"]
    if args.trace:
        raw.update(self_times(spans))
    unknown = set(raw) - set(wanted)
    if unknown:
        sys.exit(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    if not args.trace and set(wanted) - set(raw):
        sys.exit(f"end-to-end metrics not measured: {sorted(set(wanted) - set(raw))}")
    # a per-layer metric of a layer this workload never calls reads 0
    metrics = {m: {"value": raw.get(m, 0), "unit": u} for m, u in wanted.items()}
    attempted, failed = result["attempted"], result["failed"]
    for m, v in metrics.items():
        print(f"{m} = {v['value']:.6g} {v['unit']}")
    print(f"failed_frac = {failed / attempted:.6g} ratio ({failed} of {attempted} calls)")
    print(json.dumps({"correct": bool(result["correct"]) and failed == 0,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
