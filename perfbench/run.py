#!/usr/bin/env python3
"""Layered benchmark of the query inventory (see perfbench/README.md).

    python3 perfbench/run.py --workload tiny_all --seed 1 --seconds 10 --trace 0

Builds the program from source if needed (perfbench/build.py), runs one
workload in a directly launched JVM (perfbench/scala/Harness.scala),
checks every query's output against its DuckDB oracle or, for rows-only
queries, against a second execution, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. The full record of
the run is kept in .bench_build/perfbench/last/.

Exits 1 when a query throws or fails its check (after printing the
line), and non-zero without printing one when the run itself cannot
happen.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import oracle  # noqa: E402

HERE = Path(__file__).resolve().parent
DATA = HERE / "data"
WORK = build.BUILD

# Each workload has one query from each of the six operator modules, so
# every per-module metric is measured on both; six queries keep a run
# near 45 s. Prefixes of SparkEntry names.
WORKLOADS = {
    # sf0.001: data is ~0.5 MB, so a query's time is its fixed cost:
    # table loads with schema inference, analysis, planning, scheduling.
    "tiny_all": {
        "scale": "sf0.001",
        "queries": ["q05", "q40", "q20", "q30", "q35", "q46"],
        "tables": ["lineitem", "orders", "customer", "nation", "region",
                   "events", "documents", "embeddings"],
    },
    # sf0.1 corpus: the paper's text/ML side, where the custom text,
    # shingle, signature and vector kernels do the work, plus one
    # relational and one window query over the small sf0.1 tables.
    "corpus_sf0.1": {
        "scale": "sf0.1",
        "queries": ["q13", "q40", "q20", "q33", "q37", "q46"],
        "tables": ["customer", "supplier", "events", "documents", "embeddings"],
    },
}
PROBE_SCALE = "sf0.1"
JVM_TIMEOUT_S = 170

# build.sbt's javaOptions: the JDK 17 add-opens Spark needs outside
# spark-submit, UTC, and the JVM heap.
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def verify_data():
    """The inputs are byte-identical copies of the read-only test tables."""
    for line in (DATA / "SHA256SUMS").read_text().splitlines():
        want, name = line.split()
        if hashlib.sha256((DATA / name).read_bytes()).hexdigest() != want:
            raise SystemExit(f"input {name} does not match data/SHA256SUMS")


def run_jvm(cp: str, run_dir: Path, args: list, cpus: int) -> dict:
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    jvm_opts = [o for p in ADD_OPENS for o in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", f"-Xmx{heap}",
        # keep every file the run writes inside the checkout
        "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
        f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
    ]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=str(run_dir / "local"))
    cmd = ["java", *jvm_opts, "-cp", cp, "graftbench.Harness",
           "--launch-ms", str(int(time.time() * 1000)), *args]
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=run_dir)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    if rc != 0 or not (run_dir / "result.json").is_file():
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-3000:]
        raise SystemExit(f"benchmark JVM exited {rc}\n{tail}")
    return {"result": json.loads((run_dir / "result.json").read_text()), "heap": heap,
            "jvm_opts": jvm_opts}


# Counts of Spark work that one warm pass launches (listener totals),
# reported per pass under these names.
PASS_COUNTS = {"jobs": "jobs_per_pass", "tasks": "tasks_per_pass",
               "input_rows": "input_rows_per_pass", "shuffle_write_bytes": "shuffle_bytes_per_pass"}


def times(r: dict) -> dict:
    """Wall and CPU times of the warm passes. They are kept in the run
    record, not bounded: on a shared host they move with its load (see
    README), so timing claims use paired runs."""
    warm = [p for p in r["passes"] if not p["traced"]]
    per_query = {q: {"wall_ms": statistics.median(p["query_ms"][q] for p in warm),
                     "cpu_ms": statistics.median(p["query_cpu_ms"][q] for p in warm)}
                 for q in r["queries"]}
    return {
        "cold_pass_s": r["cold_pass_s"],
        "pass_s": statistics.median(p["wall_s"] for p in warm),
        "pass_cpu_s": sum(t["cpu_ms"] for t in per_query.values()) / 1e3,
        "query_p50_ms": statistics.median(ms for p in warm for ms in p["query_ms"].values()),
        "cpu_cores": sum(p["cpu_s"] for p in warm) / sum(p["wall_s"] for p in warm),
        "per_query": per_query,
    }


def end_to_end(r: dict, attempted: int, failed: int) -> dict:
    counts = r["pass_counts"]
    varying = sorted(k for k in PASS_COUNTS if len({c[k] for c in counts}) > 1)
    if varying:
        print(f"perfbench: pass counts that did not repeat: {varying}", file=sys.stderr)
    return {
        "setup_s": statistics.median(r["setup_s"]),
        **{name: statistics.median(c[k] for c in counts) for k, name in PASS_COUNTS.items()},
        "live_heap_mb": r["live_heap_mb"],
        "ok_frac": (attempted - failed) / attempted,
    }


def per_layer(workload: str, layers: dict) -> dict:
    """Per-layer metrics, with the exact counts also compared to the
    last traced run of this workload in this checkout."""
    varying = set(layers["varying"])
    counts_file = WORK / f"counts-{workload}.json"
    if counts_file.is_file():
        before = json.loads(counts_file.read_text())
        varying |= {k for k, v in layers["counts"].items() if before.get(k) != v}
    counts_file.write_text(json.dumps(layers["counts"], sort_keys=True))
    if varying:
        print(f"perfbench: counts that did not repeat: {sorted(varying)}", file=sys.stderr)
    return dict(layers["metrics"], **{"counts.varying": float(len(varying))})


def with_units(metrics: dict, trace: int) -> dict:
    """Attaches the units BENCHMARK.json declares; the metric names must
    be exactly the declared ones."""
    declared = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in declared["per_layer" if trace else "end_to_end"]}
    if set(units) != set(metrics):
        raise SystemExit(f"metrics differ from BENCHMARK.json: {sorted(set(units) ^ set(metrics))}")
    return {k: {"value": metrics[k], "unit": units[k]} for k in units}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]
    # a terminated run still stops its JVM (run_jvm kills it on exit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    verify_data()
    cp = build.build()
    cpus = len(os.sched_getaffinity(0))
    run_dir = WORK / "runs" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    data_dir = DATA / w["scale"]
    try:
        jvm = run_jvm(cp, run_dir, [
            "--data", str(data_dir), "--probe-data", str(DATA / PROBE_SCALE),
            "--out", str(run_dir), "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--queries", ",".join(w["queries"]),
            "--tables", ",".join(w["tables"])], cpus)
        r = jvm["result"]
        report = oracle.check(data_dir, run_dir / "outputs", run_dir / "outputs2",
                              r["queries"], r["oracle_sql"], r["failures"])
        bad = {q: msg for q, msg in report.items() if msg}
        for q, msg in bad.items():
            print(f"perfbench: {q}: {msg}", file=sys.stderr)
        attempted, failed = len(r["queries"]), len(bad)
        metrics = per_layer(a.workload, r["layers"]) if a.trace else end_to_end(r, attempted, failed)
        record = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "nproc": cpus, "SPARK_GRAFT_CPUS": cpus, "heap": jvm["heap"],
            "jvm_opts": jvm["jvm_opts"], "check": report, "times": times(r), "harness": r,
        }
        last = WORK / "last"
        last.mkdir(exist_ok=True)
        (last / f"{a.workload}-trace{a.trace}.json").write_text(json.dumps(record, indent=1))
        if (run_dir / "spans.json").is_file():
            shutil.copy(run_dir / "spans.json", last / f"{a.workload}-spans.json")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": with_units(metrics, a.trace)}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
