#!/usr/bin/env python3
"""Benchmark of the graft engine: MEDS ETL and a suite of gates.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

The first run builds the harness (perfbench/build.sbt, which compiles the
repository's own sources through its own build). Each run then generates
the workload's inputs from the seed, starts one JVM (perfbench.Harness) that
sets up three times, warms up and times the workload in a closed loop, one
operation at a time, for --seconds, checks the outputs against DuckDB
oracles, and prints one line per metric (value, unit, sample count) and,
last, one JSON object:

    {"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value": .., "unit": ..}}}

--trace 0 prints the end-to-end metrics:

  setup_s       median of the three session set-ups (fresh SparkSession,
                private tmpdir, inputs opened) plus the warm-up (staged
                inputs, codegen, JIT, the outputs the checks read; for
                gate_suite also one untimed pass)
  op_s          median wall time of one operation: for meds_etl a
                checkpointed graft.Main run and its resume, for gate_suite
                one pass over the gates, each built and forced
  write_amp     bytes the program leaves on disk after an operation (staged
                inputs, output and checkpoint roots) / input bytes
  live_heap_mb  heap still in use after the operations and full GCs

attempted counts pipeline runs, resumes and gate executions; failed counts
those that threw or whose output failed its check. --trace 1 prints the
per-layer metrics of a traced run, whose traced operations are interleaved
with untraced ones. A full record of the run (seed, cpus, heap, source digest, input
properties, every sample, every check) goes to perfbench/target/results/.
--smoke runs on tiny inputs; perfbench/test_smoke.py uses it.
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

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

TARGET = os.path.join(HERE, "target")
# a fixed heap: no resizing decisions that differ from run to run
HEAP = ["-Xms2g", "-Xmx2g"]
# keeps JVMs from writing their counters under the system temp directory
NO_PERF_DATA = "-XX:-UsePerfData"
RUN_LIMIT_S = 170

# The gate_suite's gates. One pass over all 113 gates takes about a minute
# on 4 cores even at the smallest scale, more than a run can afford, so the
# suite keeps gates that stress the layers the workload exists for: a
# streaming query with state, eager jobs while a gate is built (PQ
# training), the near-duplicate and n-gram kernels over the corpus's
# near duplicates, the JSONL source, and a MEDS operator over the event
# table.
GATE_SUITE = [
    "events_sessionize_stream", "pq_topk", "minhash_lsh", "ngram_jaccard",
    "jsonl_roundtrip", "agg_code_metadata",
]

SIZES = {
    "meds_etl": dict(n_subjects=200, visits_mean=12, per_visit_mean=6),
    # tables shaped as the testdata's sf0.01 ones; at sf0.1 a run takes half
    # again as long, more than a check of the benchmark has time for
    "gate_suite": dict(sf=0.01),
}
SMOKE_SIZES = {
    "meds_etl": dict(n_subjects=40, visits_mean=6, per_visit_mean=3),
    "gate_suite": dict(sf=0.001),
}

END_TO_END = {
    "setup_s": "s",
    "op_s": "s",
    "write_amp": "B/B",
    "live_heap_mb": "MB",
}
PER_LAYER = {
    "meds.jobs": "count", "meds.busy_s": "s", "meds.bytes_written": "B",
    "meds.files_written": "count",
    "operators.jobs": "count", "operators.busy_s": "s", "operators.exec_cpu_s": "s",
    "operators.persisted_bytes": "B",
    "ops.jobs": "count", "ops.busy_s": "s", "ops.exec_cpu_s": "s", "ops.shuffle_bytes": "B",
    "sources.jobs": "count", "sources.busy_s": "s",
    "streaming.jobs": "count", "streaming.busy_s": "s", "streaming.micro_batches": "count",
    "streaming.batch_s": "s", "streaming.state_rows": "count",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.action_s": "s",
    "config.parse_s": "s",
    "other.busy_s": "s",
    "spark.jobs": "count", "spark.job_gap_s": "s", "spark.tasks": "count",
    "spark.exec_run_s": "s", "spark.exec_cpu_s": "s", "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B", "spark.gc_s": "s",
    "spark.failed_tasks": "count", "spark.plan_s": "s",
    "trace.coverage": "fraction", "trace.overhead": "fraction",
}


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_files():
    """The files the harness build depends on."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "project")):
        for d, dirs, fs in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files + [os.path.join(HERE, "build.sbt")]


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """Classpath and JVM options of the harness; builds when the sources
    changed since the last build in this checkout."""
    launcher = os.path.join(TARGET, "launcher.txt")
    stamp = os.path.join(TARGET, "launcher.digest")
    if not (os.path.exists(launcher) and os.path.exists(stamp)
            and open(stamp).read() == digest):
        os.makedirs(TARGET, exist_ok=True)
        log("building the harness (sbt) ...")
        tmp = os.path.join(TARGET, "tmp")
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(TARGET, "build.log"), "w") as out:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 f"-J-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "launcher"],
                cwd=HERE, env=dict(os.environ, JAVA_TOOL_OPTIONS=" ".join(
                    [os.environ.get("JAVA_TOOL_OPTIONS", ""), NO_PERF_DATA]).strip()),
                stdout=out, stderr=subprocess.STDOUT, timeout=840)
        if r.returncode != 0 or not os.path.exists(launcher):
            raise SystemExit(f"harness build failed, see {TARGET}/build.log")
        with open(stamp, "w") as f:
            f.write(digest)
    lines = open(launcher).read().splitlines()
    return lines[0], [o for o in lines[1:] if o and not o.startswith(("-Xmx", "-Xms"))]


def generate(workload, rng, inputs, smoke):
    sizes = (SMOKE_SIZES if smoke else SIZES)[workload]
    tables = os.path.join(inputs, "tables")
    os.makedirs(tables, exist_ok=True)
    if workload == "meds_etl":
        root = os.path.join(inputs, "meds")
        props = gen.meds_root(root, rng, **sizes)
        shutil.copy(os.path.join(HERE, "meds_preprocess.yaml"), inputs)
        return props, root
    props = gen.sf_tables(tables, rng, **sizes)
    return props, tables


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def percentile(xs, q):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[min(len(xs) - 1, max(0, int(np.ceil(q * len(xs))) - 1))] if xs else float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("the graft sources are missing: run from a checkout of the repository")

    digest = source_digest()
    classpath, jvm_opts = build(digest)
    t_start = time.monotonic()

    run_dir = os.path.join(TARGET, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, work = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "work")
    os.makedirs(inputs)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return run(a, digest, classpath, jvm_opts, t_start, inputs, work)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(a, digest, classpath, jvm_opts, t_start, inputs, work):
    phases = {}
    t0 = time.monotonic()
    rng = np.random.default_rng(a.seed)
    props, input_dir = generate(a.workload, rng, inputs, a.smoke)
    phases["generate_s"] = time.monotonic() - t0
    input_bytes = dir_bytes(input_dir)
    gates = []
    if a.workload == "gate_suite":
        gates = list(GATE_SUITE)
        rng.shuffle(gates)

    result = os.path.join(work, "result.json")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"),
               GRAFT_CONFIG_DIR=os.path.join(ROOT, "config"))
    cmd = (["java", NO_PERF_DATA] + HEAP + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + jvm_opts + ["-cp", classpath, "perfbench.Harness", a.workload, str(a.seconds),
              str(a.trace), inputs, work, result] + ([",".join(gates)] if gates else []))
    budget = RUN_LIMIT_S - (time.monotonic() - t_start) - 20
    cpu0 = cpu_times()
    with open(os.path.join(work, "jvm.log"), "w") as out:
        r = subprocess.run(cmd, cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT,
                           timeout=budget)
    # CPU time the hypervisor gave to others while the harness ran: the
    # main source of run-to-run spread on a shared machine
    cpu1 = cpu_times()
    steal_share = (cpu1[7] - cpu0[7]) / max(sum(cpu1) - sum(cpu0), 1)
    if r.returncode != 0 or not os.path.exists(result):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        raise SystemExit(f"harness exited with {r.returncode}")
    res = json.load(open(result))
    phases["harness_s"] = time.monotonic() - t0 - phases["generate_s"]

    ops = res["ops"]
    n_ops = len(ops)
    attempted = n_ops * res["attempts_per_op"]
    failed = len(res["op_errors"])
    checks = {}
    results_dir = os.path.join(work, "checks")
    if a.workload == "meds_etl":
        prog = os.path.join(work, "prog", "meds")
        try:
            ok, msgs, resume_ok, shares = check.check_meds(
                os.path.join(inputs, "meds"), os.path.join(prog, "out"),
                os.path.join(prog, "resumed"))
            props.update(shares)
        except Exception as ex:  # missing or unreadable output fails the check
            ok, msgs, resume_ok = False, [str(ex)], False
        checks = {"pipeline": [ok, msgs], "resume": [resume_ok, []]}
        failed += (0 if ok else n_ops) + (0 if resume_ok else n_ops)
    else:
        verdicts = check.check_gates(input_dir, results_dir, gates)
        checks = {g: list(v) for g, v in verdicts.items()}
        failed += n_ops * sum(1 for ok, _ in verdicts.values() if not ok)
    failed = min(failed, attempted)
    phases["check_s"] = time.monotonic() - t0 - phases["generate_s"] - phases["harness_s"]
    correct = failed == 0 and not res["setup_errors"]

    untraced = [o for o in ops if not o["traced"]]
    traced = [o for o in ops if o["traced"]]
    samples = {}
    if a.trace == 0:
        metrics = {
            "setup_s": (median(res["session_s"]) + res["warmup_s"], len(res["session_s"])),
            "op_s": (median([o["op_s"] for o in untraced]), len(untraced)),
            "write_amp": (median([o["footprint_bytes"] for o in untraced]) / input_bytes,
                          len(untraced)),
            "live_heap_mb": (res["live_heap_mb"], 1),
        }
        units = END_TO_END
    else:
        layers = res["layers"]
        metrics = {k: (median([l[k] for l in layers]), len(layers))
                   for k in PER_LAYER if layers and k in layers[0]}
        metrics["config.parse_s"] = (median(res["config_parse_s"]), len(res["config_parse_s"]))
        metrics["trace.overhead"] = (
            median([o["op_s"] for o in traced]) / median([o["op_s"] for o in untraced]) - 1,
            len(traced))
        units = PER_LAYER
    samples["session_s"] = res["session_s"]
    samples["warmup_s"] = res["warmup_s"]
    for k in ("run_s", "resume_s"):
        if untraced and k in untraced[0]:
            samples[k] = [x[k] for x in untraced]
    gate_times = [v for o in untraced for k, v in o.items() if k.startswith("gate.")]
    if a.workload == "gate_suite" and gate_times:
        samples["gate_p50_s"] = median(gate_times)
        samples["gate_p90_s"] = percentile(gate_times, 0.9)
        samples["gate_samples"] = len(gate_times)

    for k in units:
        v, n = metrics[k]
        print(f"{k:28s} {v:14.6g} {units[k]:9s} n={n}")
    for k, v in samples.items():
        print(f"{k:28s} {v}")
    print(f"cpu_steal_share              {steal_share:.4f}")
    print(f"correct={correct} attempted={attempted} failed={failed} "
          f"error_rate={failed / max(attempted, 1):.4f}")
    if not correct:
        for name, (ok, msg) in checks.items():
            if not ok:
                log(f"check failed: {name}: {msg}")
        for e in res["setup_errors"] + res["op_errors"]:
            log(f"error: {e}")

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "smoke": a.smoke, "nproc": os.cpu_count(), "cpus": res["cpus"],
        "heap_max_mb": res["heap_max_mb"], "source_digest": digest,
        "commit": git_commit(), "input_bytes": input_bytes, "input_properties": props,
        "gates": gates, "phases": phases, "cpu_steal_share": steal_share, "harness": res,
        "checks": checks, "samples": samples,
        "metrics": {k: {"value": v, "unit": units[k], "n": n} for k, (v, n) in metrics.items()},
    }
    os.makedirs(os.path.join(TARGET, "results"), exist_ok=True)
    with open(os.path.join(TARGET, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(TARGET, "results",
                                        f"{a.workload}-seed{a.seed}-spans.jsonl"))

    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k][0], "unit": units[k]} for k in units},
    }))
    return 0


def cpu_times():
    """The machine's aggregate CPU counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def git_commit():
    """The checkout's commit; None outside a git work tree."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    sys.exit(main())
