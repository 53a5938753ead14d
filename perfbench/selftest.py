#!/usr/bin/env python3
"""Fast smoke test of the benchmark itself.

Usage (from the root of a checkout): python3 perfbench/selftest.py

- Runs every workload once untraced and once traced, at the benchmark's
  input scale and a one-second measuring window.
- Asserts that each untraced run prints every end-to-end metric that applies
  to its workload, with its unit, in the record line; that the last line
  carries exactly BENCHMARK.json's end-to-end metrics (untraced) or
  per-layer metrics (traced), each with a unit; and that the outputs passed
  their checks.
- Negative case: a deliberately wrong expected lake count must come back as
  a failed check (correct=false, failed>0), not as a fast run.

Exits 0 when every assertion holds.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
APPLIES = {
    "osm_chain": ["setup_s", "run_s", "etl_s", "load_s", "lake_bytes_ratio", "live_heap_mb",
                  "failed_ratio"],
    "osm_incremental": ["setup_s", "run_s", "lake_bytes_ratio", "live_heap_mb", "failed_ratio"],
    "query_mix": ["setup_s", "run_s", "query_p50_s", "query_tail_s", "live_heap_mb",
                  "failed_ratio"],
}


def bench(workload, trace, *extra):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "3", "--seconds", "1", "--trace", str(trace), *extra],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    assert r.returncode == 0 and len(lines) >= 2, \
        f"{workload} trace={trace} exited {r.returncode}: {r.stderr[-2000:]}"
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    problems = []

    def expect(cond, msg):
        if not cond:
            problems.append(msg)

    for w in APPLIES:
        record, final = bench(w, 0)
        printed = record["end_to_end"]
        for name in APPLIES[w]:
            expect(name in printed and printed[name].get("unit"), f"{w}: {name} not printed with a unit")
        expect(final["correct"] and final["failed"] == 0, f"{w}: checks failed {record['failed_checks']}")
        expect({k: v["unit"] for k, v in final["metrics"].items()} == e2e,
               f"{w}: last line metrics {sorted(final['metrics'])} != BENCHMARK.json end_to_end")
        record, final = bench(w, 1)
        expect({k: v["unit"] for k, v in final["metrics"].items()} == layers,
               f"{w}: traced metrics differ from BENCHMARK.json per_layer: "
               f"{sorted(set(final['metrics']) ^ set(layers))}")
        expect("tracing_overhead_s" in record and record.get("tracing_overhead_samples", 0) >= 1,
               f"{w}: no tracing overhead in the record")
        expect(final["correct"], f"{w} traced: checks failed {record['failed_checks']}")

    record, final = bench("osm_chain", 0, "--expect-skew", "ways=1")
    expect(not final["correct"] and final["failed"] >= 1,
           "a wrong expected count was not reported as a failed check")
    expect(any(c["name"].endswith("lake_counts") for c in record["failed_checks"]),
           "the failed check is not the lake count check")

    for p in problems:
        print(f"FAIL {p}")
    print("selftest:", "ok" if not problems else f"{len(problems)} problem(s)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
