#!/usr/bin/env python3
"""Benchmark of the OSM ETL chain, the incremental apply and a query mix.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload osm_chain|osm_incremental|query_mix \
        --seed N --seconds S --trace 0|1

Builds the program and the benchmark from source (sbt, offline) into
`.bench_build/` on first use, generates the seeded inputs under
`.bench_tmp/`, runs one closed-loop client on `local[4]` for S seconds,
checks the outputs, and prints one JSON object as the last line of stdout.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones
(traced runs alternate with untraced ones, starting and ending untraced;
each traced run against its two neighbours gives the tracing overhead).
Records and trace files land in `.bench_out/`.

Extra flag, for the self-test's negative case: `--expect-skew TABLE=N` adds
N to one expected lake count, which must then be reported as a failed check.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ["osm_chain", "osm_incremental", "query_mix"]
SF = 0.01                 # input scale: 60k lineitem rows, 15k ways
DEADLINE_S = 170          # the whole process must end within 180 s
CHECK_RESERVE_S = 25      # left after the last timed run for end checks and exit
MIN_RUNS = {"osm_chain": 3, "osm_incremental": 3, "query_mix": 1}
JVM_OPTS = [
    "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so a changed tree is rebuilt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + benchmark once per source tree; return the classpath."""
    out = os.path.join(ROOT, ".bench_build")
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file) and open(os.path.join(out, "stamp")).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")  # the offline resolver config, if any
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else ""))
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True)
    with open(os.path.join(out, "build.log"), "w") as log:
        log.write(r.stdout + r.stderr)
    lines = r.stdout.strip().splitlines()
    cps = [ln for ln in lines if ln.endswith(".jar") and os.pathsep in ln]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(ln for ln in lines if ln.startswith("[error]"))[-4000:] + "\n")
        fail("build failed (see .bench_build/build.log)", 3)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(os.path.join(out, "stamp"), "w") as f:
        f.write(stamp)
    return cps[-1]


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def unit_of(name):
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("loadavg1"):
        return "load"
    return "count"


def tail(samples):
    """Highest percentile of a ladder with at least 10 samples beyond it."""
    n = len(samples)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100.0) >= 10:
            s = sorted(samples)
            return p, s[min(n - 1, int(p / 100.0 * n))]
    return None, max(samples) if samples else float("nan")


def check_query_outputs(check_dir, data, keys):
    """Oracled keys against their DuckDB oracle (tools/check.py's compare);
    the rest by row count. Returns the failed keys with a reason."""
    failed = dict(json.load(open(os.path.join(check_dir, "errors.json"))))
    oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    oracled = [k for k in keys if k in oracle and k not in failed]
    if oracled:
        r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                            check_dir, data, ",".join(oracled)],
                           capture_output=True, text=True, timeout=120)
        seen = set()
        for ln in r.stdout.splitlines():
            word, _, rest = ln.partition(" ")
            key = rest.split(":")[0].split(" ")[0]
            if word in ("PASS", "FAIL", "SHAPE") and key in oracle:
                seen.add(key)
                if word != "PASS":
                    failed[key] = ln[:300]
        for k in oracled:
            if k not in seen:
                failed[k] = "no verdict from the oracle compare"
    import pyarrow.parquet as pq
    for k in keys:
        if k in oracle or k in failed:
            continue
        try:
            rows = pq.ParquetDataset(os.path.join(check_dir, k)).read().num_rows
        except Exception as e:  # noqa: BLE001 - any unreadable result is a failure
            failed[k] = f"unreadable result: {e}"[:300]
            continue
        if rows < 1:
            failed[k] = "no rows"
    return failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--expect-skew", default=None)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources (build.sbt, src/main/scala/graft) are not next to perfbench/")
    t_build = time.time()
    cp = build()
    # set-up time and the deadline both count from process start, compile excluded
    setup_start = T_PROCESS + (time.time() - t_build)

    import gen
    keys = [k["key"] for k in json.load(open(os.path.join(HERE, "query_mix.json")))]
    work = os.path.join(ROOT, ".bench_tmp", f"{a.workload}-{a.seed}-{os.getpid()}")
    outdir = os.path.join(ROOT, ".bench_out")
    os.makedirs(outdir, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    data, prev = os.path.join(work, "data"), os.path.join(work, "prev")
    try:
        os.makedirs(os.path.join(work, "tmp"))
        gen.generate(data, a.seed, SF)
        if a.workload == "osm_incremental":
            gen.derive_prev(data, prev, a.seed)
        rec_file = os.path.join(work, "record.json")
        cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work}/tmp",
               f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
               f"-Dderby.system.home={work}/tmp", "-cp", cp, "perfbench.Main",
               "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--data", data, "--prev", prev, "--work", work,
               "--out", rec_file, "--keys", os.path.join(HERE, "query_mix.json"),
               "--trace-file", os.path.join(outdir, f"trace-{tag}.json"),
               "--start-ms", str(int(setup_start * 1000)),
               "--min-runs", str(MIN_RUNS[a.workload]),
               "--deadline-ms", str(int((setup_start + DEADLINE_S - CHECK_RESERVE_S) * 1000))]
        budget = DEADLINE_S - (time.time() - setup_start)
        try:
            subprocess.run(cmd, cwd=work, timeout=max(10.0, budget - 15), check=False,
                           stdout=sys.stderr)
        except subprocess.TimeoutExpired:
            fail("the timed process overran its deadline", 4)
        if not os.path.exists(rec_file):
            fail("the timed process left no record", 4)
        rec = json.load(open(rec_file))
        if "error" in rec:
            fail(f"the timed process failed: {rec['error']}", 4)
        result = evaluate(a, rec, data, work, keys)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(outdir, f"record-{tag}.json"), "w") as f:
        json.dump(result["record"], f, indent=1)
    print(json.dumps({"record": result["record"]}))
    print(json.dumps(result["final"]))


def evaluate(a, rec, data, work, keys):
    import gen
    runs = rec["runs"]
    ok_runs = [r for r in runs if "error" not in r]
    plain = [r for r in ok_runs if not r["traced"]]
    failed_ops = len(runs) - len(ok_runs)
    checks = [(c["name"], c["ok"], c["detail"]) for c in rec["checks"]]
    metrics = {"setup_s": rec["setup_s"], "run_s": median([r["seconds"] for r in plain]),
               "live_heap_mb": median([r["live_heap_mb"] for r in runs])}
    samples = {"run_s": len(plain), "live_heap_mb": len(runs), "setup_s": 1}
    attempted = len(runs)

    if a.workload in ("osm_chain", "osm_incremental"):
        expected = gen.expected_counts(data)
        if a.expect_skew:
            t, n = a.expect_skew.split("=")
            expected[t] += int(n)
        for i, r in enumerate(ok_runs):
            bad = {t: (r["counts"].get(t), n) for t, n in expected.items() if r["counts"].get(t) != n}
            if a.workload == "osm_chain":
                bad.update({f"loaded.{t}": (r["loaded"].get(t), r["counts"].get(t))
                            for t in expected if r["loaded"].get(t) != r["counts"].get(t)})
            checks.append((f"run{i}.lake_counts", not bad, json.dumps(bad)))
        metrics["lake_bytes_ratio"] = median([r["lake_bytes"] for r in ok_runs]) / gen.etl_input_bytes(data)
        samples["lake_bytes_ratio"] = len(ok_runs)
    if a.workload == "osm_chain":
        metrics["etl_s"] = median([r["etl_s"] for r in plain])
        metrics["load_s"] = median([r["load_s"] for r in plain])
        samples["etl_s"] = samples["load_s"] = len(plain)
    tail_pct = None
    if a.workload == "query_mix":
        lat = [v for r in plain for v in r["keys"].values()]
        attempted = sum(len(keys) for _ in runs)
        failed_ops = sum(len(r.get("errors", {})) for r in ok_runs) + \
            len(keys) * (len(runs) - len(ok_runs))
        metrics["query_p50_s"] = median(lat)
        tail_pct, metrics["query_tail_s"] = tail(lat)
        samples["query_p50_s"] = samples["query_tail_s"] = len(lat)
        bad = check_query_outputs(os.path.join(work, "check"), data, keys)
        checks += [(f"oracle.{k}", k not in bad, bad.get(k, "")) for k in keys]
    failed_checks = [c for c in checks if not c[1]]
    failed = failed_ops + len(failed_checks)
    metrics["failed_ratio"] = failed / max(1, attempted)
    samples["failed_ratio"] = attempted

    secs = [r["seconds"] for r in plain]
    half = len(secs) // 2
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace, "sf": SF,
        "end_to_end": {k: {"value": v, "unit": unit_of(k), "samples": samples[k]}
                       for k, v in metrics.items()},
        "query_tail_percentile": tail_pct,
        "attempted": attempted, "failed": failed,
        "failed_checks": [{"name": n, "detail": d} for n, _, d in failed_checks],
        "contention": {
            "sentinel_s_before": median([r["sentinel_s"][0] for r in runs]),
            "sentinel_s_after": median([r["sentinel_s"][1] for r in runs]),
            "loadavg1_before": median([r["loadavg1"][0] for r in runs]),
            "loadavg1_after": median([r["loadavg1"][1] for r in runs]),
        },
        "run_seconds": [r["seconds"] for r in ok_runs],
        "drift": {"run_s_first_half": median(secs[:half]) if half else None,
                  "run_s_second_half": median(secs[half:]) if half else None},
        "jvm": rec["jvm"],
        "setup_phases": rec["setup_phases"],
    }
    for name, m in record["end_to_end"].items():
        print(f"[perfbench] {a.workload} {name} = {m['value']:.6g} {m['unit']} "
              f"(n={m['samples']})", file=sys.stderr)
    if a.trace:
        per_layer = rec["per_layer"]
        record["per_layer"] = per_layer
        record["not_applicable"] = rec["not_applicable"]
        record["tracing_overhead_s"] = per_layer["trace.overhead_s"]
        record["tracing_overhead_samples"] = rec["tracing_overhead_samples"]
        out_metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in per_layer.items()}
    else:
        out_metrics = {k: {"value": metrics[k], "unit": unit_of(k)}
                       for k in ("run_s", "setup_s", "live_heap_mb")}
    final = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out_metrics}
    return {"record": record, "final": final}


if __name__ == "__main__":
    main()
