#!/usr/bin/env python3
"""Benchmark of the engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload gate_suite --seed 1 --seconds 10 --trace 0

Builds the engine from source (perfbench/build.py), generates the seeded
inputs, runs one JVM on local[nproc] that drives the engine through its
public calls, checks every output after the JVM exits, and prints an
environment header line followed by the result as the last stdout line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones of a traced run.
See perfbench/DESIGN.md for the workloads and the metric definitions.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build    # noqa: E402
import checks   # noqa: E402
import gen      # noqa: E402
import metrics  # noqa: E402

# BENCHMARK.json lists gate_suite and etl_pipeline; corpus_dedup runs on its
# own here, and its layers inside the traced runs (expressions in
# gate_suite, operators in etl_pipeline)
WORKLOADS = ("gate_suite", "etl_pipeline", "corpus_dedup")
# every JVM of a run must end within this many seconds after the build
RUN_DEADLINE_S = 165
# base documents of the corpus the traced runs measure the corpus layers on
TRACE_CORPUS_DOCS = 2000
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def gate_panel():
    with open(os.path.join(HERE, "gate_panel.txt")) as f:
        return [ln.strip() for ln in f if ln.strip() and not ln.startswith("#")]


def testdata_dir():
    """Root of the read-only sf0.001/sf0.01/sf0.1 tables (TESTDATA.md)."""
    return os.environ.get("GRAFT_TESTDATA", os.path.expanduser("~/testdata"))


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=HERE, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(args, trace, classes, work, inputs, cores, gates, deadline):
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=1g"] +
           [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.PerfBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(trace),
            "--work", work, "--inputs", inputs, "--testdata", testdata_dir(),
            "--cores", str(cores), "--out", out, "--gates", ",".join(gates)])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                              timeout=max(1.0, deadline - time.time()), cwd=work)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError(f"benchmark JVM exited with {proc.returncode}")
    with open(out) as f:
        return json.load(f)


def end_to_end(record, workload, inputs, gate_rows):
    walls = [p["wall_s"] for p in record["passes"]]
    lat = [op["latency_s"] for p in record["passes"] for op in p["ops"]]
    wall = statistics.median(walls)
    if workload == "gate_suite":
        rows = statistics.median(gate_rows)
    elif workload == "corpus_dedup":
        with open(os.path.join(inputs, "corpus_truth.json")) as f:
            rows = json.load(f)["rows"]
    else:
        with open(os.path.join(inputs, "etl_truth.json")) as f:
            rows = sum(v["rows_read"] for v in json.load(f)["ingests"].values())
    return {
        "setup_s": record["boot_s"] + record["session_s"] + record["warm_up_s"],
        "wall_s": wall,
        "query_p50_s": statistics.median(lat),
        "rows_per_s": rows / wall,
        "peak_rss_mb": record["peak_rss_mb"],
    }


def per_layer(traced, untraced):
    """Per-layer medians over the traced JVM's passes; the tracing overhead
    is its median pass wall minus that of the untraced JVM run just before
    it on the same inputs (both start cold, so neither is favoured)."""
    values = {name: statistics.median(p["layers"].get(name, 0.0) for p in traced["passes"])
              for name in metrics.PER_LAYER}
    values.update(traced["extras"])
    values["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced["passes"]) -
                                  statistics.median(p["wall_s"] for p in untraced["passes"]))
    return values


def check_gates(record, work):
    with open(os.path.join(HERE, "gate_hashes.json")) as f:
        recorded = json.load(f)
    cache_file = os.path.join(HERE, ".work", "oracle_cache.json")
    cache = {}
    if os.path.exists(cache_file):
        with open(cache_file) as f:
            cache = json.load(f)
    result = checks.gate_suite(record, work, recorded, cache)
    with open(cache_file, "w") as f:
        json.dump(cache, f)
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor of corpus_dedup and etl_pipeline (sizing runs)")
    args = ap.parse_args()

    cores = os.cpu_count()
    load0, steal0, t0 = os.getloadavg()[0], cpu_ticks(), time.time()
    classes = build.build()
    deadline = time.time() + RUN_DEADLINE_S
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = os.path.join(work, "inputs")
        if args.workload == "corpus_dedup":
            gen.corpus(args.seed, inputs, docs=round(gen.CORPUS_DOCS * args.scale))
        elif args.trace:
            # a traced run of a benchmark workload also measures the corpus
            # layers: gate_suite the expression kernels, etl_pipeline the
            # operators; on a smaller corpus, to stay within RUN_DEADLINE_S
            gen.corpus(args.seed, inputs, docs=TRACE_CORPUS_DOCS)
        if args.workload == "etl_pipeline":
            gen.etl(args.seed, inputs, policies=round(gen.ETL_POLICIES * args.scale),
                    claims=round(gen.ETL_CLAIMS * args.scale))
            gen.etl(args.seed, os.path.join(inputs, "warmup"), policies=300, claims=900, dirt=2)
        gates = gate_panel() if args.workload == "gate_suite" else []
        # a traced run is an untraced JVM and then a traced JVM on the same
        # inputs: the per-layer figures come from the second, and the
        # difference of their walls is the tracing overhead
        records = {}
        for trace in ((0, 1) if args.trace else (0,)):
            jvm_work = os.path.join(work, f"trace{trace}")
            records[trace] = (jvm_work, run_jvm(args, trace, classes, jvm_work, inputs,
                                                cores, gates, deadline))

        errors, gate_rows = {}, None
        for trace, (jvm_work, record) in records.items():
            if args.workload == "gate_suite":
                found, gate_rows = check_gates(record, jvm_work)
            elif args.workload == "corpus_dedup":
                found = checks.corpus_dedup(
                    [p for p, ps in enumerate(record["passes"]) if not ps["ops"][0]["error"]],
                    jvm_work, inputs)
            else:
                found = checks.etl_pipeline(record, jvm_work, inputs)
                if trace:
                    found.update({(p, f"extras/{name}"): e for (p, name), e in
                                  checks.corpus_dedup([0], jvm_work, inputs).items()})
            for p, ps in enumerate(record["passes"]):
                for op in ps["ops"]:
                    if op["error"]:
                        found[p, op["name"]] = op["error"]
            errors.update({(trace, p, name): e for (p, name), e in found.items()})
        attempted = sum(len(ps["ops"]) for _, r in records.values() for ps in r["passes"])
        failed = len(errors)
        record = records[0][1]

        if args.trace:
            values, table = per_layer(records[1][1], record), metrics.PER_LAYER
        else:
            values, table = end_to_end(record, args.workload, inputs, gate_rows), metrics.END_TO_END
        steal1, load1 = cpu_ticks(), os.getloadavg()[0]
        steal_pct = (100.0 * (steal1[0] - steal0[0]) / (steal1[1] - steal0[1])
                     if steal1[1] > steal0[1] else -1.0)
        contaminated = None
        if load0 > cores:
            contaminated = (f"load average {load0:.2f} at start exceeds {cores} CPUs: other "
                            "work competed for them; treat times as inflated")
        elif steal_pct > 3.0:
            contaminated = (f"cpu steal {steal_pct:.2f}% during the run: hypervisor "
                            "contention inflated times")
        header = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "nproc": cores, "git_head": git_head(),
            "jvm": record["jvm"], "load_avg_start": load0, "load_avg_end": load1,
            "cpu_steal_pct": round(steal_pct, 3), "contaminated": contaminated,
            "setup_parts_s": {k: record[k] for k in ("boot_s", "session_s", "warm_up_s")},
            "samples": {"setup_s": 1,
                        "wall_s": len(record["passes"]),
                        "query_latency": sum(len(p["ops"]) for p in record["passes"])},
            "failed_frac": failed / attempted,
            "failing": {f"trace{t}/pass{p}/{name}": e for (t, p, name), e in sorted(errors.items())},
            "extras_s": {f"trace{t}": r["extras_s"] for t, (_, r) in records.items()},
            "run_s": round(time.time() - t0, 3),
        }
        print(json.dumps({"env": header}, sort_keys=True))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in table.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
