#!/usr/bin/env python3
"""Runs one benchmark workload against graft and prints its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: event_analytics (batch queries over the seed-ordered tables in
perfbench/data) and feature_stream (the clickstream feature pipeline).
The last stdout line is one JSON object with keys correct, attempted,
failed and metrics: the end-to-end metrics of BENCHMARK.json when
--trace is 0, its per-layer metrics when --trace is 1. A traced run also
writes its spans, with each span's self time, to
$CARGO_TARGET_DIR/perfbench/spans/ (default .bench_build).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("event_analytics", "feature_stream")
JVM_TIMEOUT_S = 170

JAVA_OPTS = ["-Xmx2g", "-Xss8m", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + [
    arg for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
        "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar")
    for arg in ("--add-opens", pkg + "=ALL-UNNAMED")]


def run_jvm(classpath, work, args):
    """Runs perfbench.Main and returns its raw result, or exits non-zero."""
    out = os.path.join(work, "raw.json")
    log = os.path.join(work, "jvm.log")
    # Spark's local and temporary files stay in the run's directory
    local = [f"-Dspark.local.dir={work}/local", f"-Djava.io.tmpdir={work}/tmp"]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"] + JAVA_OPTS + local + ["-cp", classpath, "perfbench.Main"] + args + [
        "--work", work, "--out", out]
    with open(log, "w") as f:
        try:
            code = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                                  timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM run failed ({code})")
    with open(out) as f:
        return json.load(f)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build.classpath()
    work = os.path.join(build.out_dir(), "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_jvm(classpath, work, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", os.path.join(HERE, "data")])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed, failures = raw["failed"], list(raw["failures"])
    if a.workload == "event_analytics":
        with open(os.path.join(HERE, "expected", "event_analytics.json")) as f:
            expected = json.load(f)
        for name, want in sorted(expected.items()):
            got = raw["fingerprints"].get(name)
            if got is not None and got != want:
                failed += 1
                failures.append(f"{name}: output fingerprint {got}, expected {want}")
        missing = sorted(set(expected) - set(raw["fingerprints"]))
        if missing and not raw["failed"]:
            failed += 1
            failures.append(f"unchecked queries: {missing}")
    for line in failures:
        print("failure: " + line, file=sys.stderr)

    if a.trace:
        values = stats.per_layer(raw)
        wanted = spec["per_layer"]
        spans_dir = os.path.join(build.out_dir(), "spans")
        os.makedirs(spans_dir, exist_ok=True)
        with open(os.path.join(spans_dir, f"{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"self_s": stats.self_time_by_name(raw["spans"]),
                       "spans": raw["spans"]}, f)
    else:
        values = stats.end_to_end(raw, a.workload)
        wanted = spec["end_to_end"]
    # a layer that this workload does not exercise reads 0
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": raw["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
