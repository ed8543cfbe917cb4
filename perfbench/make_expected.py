#!/usr/bin/env python3
"""Writes perfbench/expected/event_analytics.json: the output fingerprint of
each event_analytics query, from the check that an ordinary run makes. The
tables keep their content whatever the seed, so one run gives them all.

Usage (from the repository root): python3 perfbench/make_expected.py

Run it only when the query list or the tables change, and confirm the
outputs against the DuckDB oracle first: dump them with graft.Verify over
perfbench/data and compare with tools/selfcheck.py.
"""
import json
import os
import shutil

import build
import run

work = os.path.join(build.out_dir(), "work", "expected")
shutil.rmtree(work, ignore_errors=True)
os.makedirs(work)
raw = run.run_jvm(build.classpath(), work, [
    "--workload", "event_analytics", "--seed", "0", "--seconds", "0", "--trace", "0",
    "--data", os.path.join(run.HERE, "data")])
if raw["failed"]:
    raise SystemExit("perfbench: the run failed: " + "; ".join(raw["failures"]))
shutil.rmtree(work, ignore_errors=True)
with open(os.path.join(run.HERE, "expected", "event_analytics.json"), "w") as f:
    json.dump(raw["fingerprints"], f, indent=1, sort_keys=True)
    f.write("\n")
