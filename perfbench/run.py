#!/usr/bin/env python3
"""Benchmark of the chat pipeline: live ingest with dashboard reads over a
replayed history, and registry corpus passes.

    python3 perfbench/run.py --workload live|corpus --seed N \
        --seconds S --trace 0|1 [--selftest]

Run from the repository root. Builds the program once per source tree,
generates the workload's inputs from the seed, runs the harness JVM
directly (no sbt), checks its outputs with DuckDB, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. Untraced runs report the
end-to-end metrics, traced runs the per-layer ones. See README.md.
"""
import argparse
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# A run must end within 180 s of its start (the build excluded). The harness
# JVM gets what is left of that after input generation, less CHECK_RESERVE_S
# for the DuckDB checks (about 5 s on live): about 2.3x the slowest live run
# on a calm host (see README.md, "Time limit").
RUN_LIMIT_S = 180
CHECK_RESERVE_S = 20
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
END_TO_END = {"setup_s": "s", "batch_ms": "ms", "read_ms": "ms",
              "rows_per_s": "1/s", "pass_ms": "ms"}
GRAINS = ["channel", "user", "emote", "user_emote", "phrase"]


def per_layer_names():
    names = [f"streaming.upsert_ms.{g}" for g in GRAINS]
    names += ["streaming.bytes_written", "streaming.files_written",
              "streaming.leaf_dirs_touched", "streaming.replay_ms",
              "streaming.plan_ms",
              "streaming.wal_ms", "streaming.add_batch_ms",
              "streaming.state_rows"]
    names += [f"pipeline.delta_ms.{g}" for g in GRAINS]
    names += [f"queries.route_ms.{r}" for r in gen.LIVE_READS]
    names += ["queries.state_files_listed"]
    names += [f"queries.entry_ms.{e}" for e in gen.CORPUS_ENTRIES]
    names += ["spark.jobs", "spark.driver_gap_ms", "spark.codegen_compiles",
              "spark.codegen_ms", "spark.batch_codegen_compiles",
              "spark.tasks", "spark.task_busy_ms", "spark.shuffle_bytes",
              "spark.persisted_rdds", "spark.spill_bytes",
              "jvm.cpu_ms", "jvm.gc_ms", "jvm.jit_ms", "host.steal_ms"]
    return names


def layer_unit(name):
    if name.endswith("_ms") or ".upsert_ms." in name or "_ms." in name:
        return "ms"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    return "count"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def driver_heap(root):
    """The heap the program runs with: `SPARK_DRIVER_MEM`, or the default
    build.sbt gives it."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'"SPARK_DRIVER_MEM",\s*"([^"]+)"', f.read())
    if not m:
        raise SystemExit("build.sbt sets no SPARK_DRIVER_MEM default")
    return os.environ.get("SPARK_DRIVER_MEM", m.group(1))


def run_jvm(root, classpath, workload, run_dir, seconds, trace, deadline):
    out = os.path.join(run_dir, "out")
    scratch = os.path.join(run_dir, "scratch")
    tmp = os.path.join(run_dir, "tmp")
    for d in (out, scratch, tmp):
        os.makedirs(d, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", f"-Xmx{driver_heap(root)}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", *opens, "-cp", classpath, "perfbench.Main",
           "--workload", workload, "--input", os.path.join(run_dir, "input"),
           "--out", out, "--seconds", str(seconds), "--trace", str(trace)]
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=scratch)
    env.pop("SPARK_GRAFT_CPUS", None)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"harness JVM failed ({rc})")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def geo_median(samples):
    """Geometric mean over operation kinds of each kind's median: a summary
    that does not jump between kinds of very different cost the way a
    median over all samples does."""
    kinds = {}
    for kind, ms in samples:
        kinds.setdefault(kind, []).append(ms)
    logs = [math.log(median(xs)) for xs in kinds.values()]
    return math.exp(sum(logs) / len(logs)) if logs else 0.0


def end_to_end(workload, plan, res):
    """The five end-to-end metrics from the harness's raw timings, and the
    number of timed operations they rest on. `rows_per_s` is the history
    replay's throughput on live; on corpus it restates `pass_ms` as corpus
    rows per second of a pass."""
    ops = res["ops"]
    if workload == "live":
        batch = [("batch", op["batch_ms"]) for op in ops]
        reads = [(name, ms) for op in ops for name, ms in op["reads"]]
        rows = [plan["preload_rows"] / (res["preload_ms"] / 1000)]
    else:
        batch = [(e, ms) for op in ops for e, ms in op.get("entries", [])]
        reads = [(e, ms) for op in ops for e, ms in op.get("reads", [])]
        rows = [plan["corpus_rows"] / (op["wall_ms"] / 1000) for op in ops]
    values = {"setup_s": res["setup_s"], "batch_ms": geo_median(batch),
              "read_ms": geo_median(reads), "rows_per_s": median(rows),
              "pass_ms": median([op["wall_ms"] for op in ops])}
    return values, len(batch) + len(reads)


def per_layer(res):
    """Median per operation of every per-layer counter; 0 for layers the
    workload does not exercise. The history replay of `live` is one
    operation of its set-up."""
    ops = res["ops"]
    once = res.get("replay_layers", {})
    values = {}
    for name in per_layer_names():
        xs = [op["layers"][name] for op in ops if name in op["layers"]]
        values[name] = once[name] if name in once else median(xs)
    return values


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=list(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="also corrupt the outputs and confirm the checks "
                         "catch every corruption")
    a = ap.parse_args()
    root = os.getcwd()
    classpath = build.build(root)
    deadline = time.time() + RUN_LIMIT_S - CHECK_RESERVE_S
    runs = os.path.join(root, build.BUILD_DIR, "runs")
    run_dir = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    t0 = time.time()
    plan = gen.generate(a.workload, a.seed, os.path.join(run_dir, "input"))
    gen_s = time.time() - t0
    try:
        res = run_jvm(root, classpath, a.workload, run_dir, a.seconds, a.trace,
                      deadline)
        problems = check.check(a.workload, run_dir, plan, res)
        e2e, attempted = end_to_end(a.workload, plan, res)
        if a.trace:
            metrics = {k: {"value": v, "unit": layer_unit(k)}
                       for k, v in per_layer(res).items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u}
                       for k, u in END_TO_END.items()}
        for p in problems:
            sys.stderr.write(f"CHECK FAILED: {p}\n")
        if a.selftest:
            caught = check.selftest(a.workload, run_dir, plan, res)
            for label, ok in caught:
                sys.stderr.write(f"selftest {'caught' if ok else 'MISSED'}: "
                                 f"{label}\n")
            if problems or not all(ok for _, ok in caught):
                raise SystemExit("selftest failed")
        summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "gen_s": gen_s, "end_to_end": e2e,
                   "ops": len(res["ops"]), "measured_s": res["measured_s"],
                   "warmup": res["warmup"], "preload_ms": res.get("preload_ms"),
                   "steal_ms": res["steal_ms"],
                   "foreign_jvms": res["foreign_jvms"], "problems": problems}
        if a.trace:
            summary["per_layer"] = per_layer(res)
        results = os.path.join(root, build.BUILD_DIR, "results")
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results, f"{a.workload}-{a.seed}-t{a.trace}-"
                               f"{int(time.time())}.json"), "w") as f:
            json.dump(summary, f)
        sys.stderr.write(json.dumps(summary) + "\n")
        print(json.dumps({"correct": not problems, "attempted": attempted,
                          "failed": 0, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
