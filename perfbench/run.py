"""graft's benchmark: batch ingest and incremental sync, timed end to end and
per layer. Run from the repository root:

    python3 perfbench/run.py --workload ingest_batch --seed 1 --seconds 15 --trace 0

It builds graft and the benchmark from source (`perfbench/build.py`),
generates the workload's inputs from `--seed` (`perfbench/gen.py`), runs the
JVM harness (`perfbench/src/perfbench/Harness.scala`) in one process with
`local[nproc]`, checks every op's output against the generator's
bookkeeping, prints a table of metrics, writes a result file with its
provenance under `.bench_build/results/`, and prints one JSON line last:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
See perfbench/README.md for the workloads and what each metric means.
"""

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

SETUP_ROUNDS = 1
HEAP = "2g"
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData"]
DEADLINE_S = 170  # the whole run, build excluded

WORKLOADS = {
    "ingest_batch": {"changes": 30_000, "chunk": 10_000},
    "sync_trickle": {"base_docs": 10_000, "chunk": 10_000, "per_sync": 10, "syncs": 40},
    "sync_bulk": {"base_docs": 10_000, "chunk": 10_000, "per_sync": 5_000, "syncs": 16},
}

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "changes_per_s": "changes/s", "peak_rss_mb": "MB"}

PER_LAYER = {
    "setup.session_s": "s", "setup.generate_s": "s",
    "sources.scan_s": "s", "sources.read_amp": "ratio", "sources.offsets_s": "s",
    "split.discover_types_s": "s", "model.schema_discover_s": "s",
    "compact.self_s": "s", "compact.shuffle_write_bytes": "bytes", "flatten.self_s": "s",
    "warehouse.ingest_s": "s", "warehouse.jobs": "count",
    "sinks.export_s": "s", "sinks.bytes_written": "bytes",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s", "streaming.offset_commit_s": "s",
    "streaming.lifecycle_s": "s", "streaming.publish_s": "s", "streaming.view_read_s": "s",
    "streaming.jobs_per_sync": "count",
    "statefs.buckets_rewritten": "count", "statefs.files_written_per_sync": "count",
    "statefs.bytes_read_per_sync": "bytes", "statefs.bytes_written_per_sync": "bytes",
    "statefs.write_amp": "ratio", "statefs.state_bytes": "bytes",
    "catalyst.planning_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "driver.gap_s": "s", "driver.result_bytes": "bytes",
    "tasks.run_s": "s", "tasks.cpu_s": "s", "tasks.gc_s": "s", "tasks.stage_skew_p90": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes", "shuffle.spill_bytes": "bytes",
    "cache.bytes_stored": "bytes",
    "trace.overhead_pct": "%",
}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def generate(workload, seed, out):
    size = WORKLOADS[workload]
    if workload == "ingest_batch":
        return {"ingest": gen.gen_ingest(out, seed, size["changes"], size["chunk"])}
    return {"sync": gen.gen_sync(out, seed, size["base_docs"], size["chunk"],
                                 size["syncs"], size["per_sync"])}


def git_head(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() or None


def cpu_ticks():
    """(steal, total) jiffies from /proc/stat: the share of CPU the host took
    from this machine while the run measured."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def end_to_end(res, generate_s):
    # failed ops are counted in `failed`; time only the ones that worked,
    # unless none did
    ops = [o for o in res["ops"] if "error" not in o] or res["ops"]
    walls = [o["wall_s"] for o in ops]
    setup = statistics.median(res["setup_rounds_s"])
    return {
        # the run's set-up as a user pays it: session, inputs, starting state
        "setup_s": generate_s + res["session_s"] + setup + res["warmup_s"],
        "op_p50_s": statistics.median(walls),
        "changes_per_s": sum(o["changes"] for o in ops) / sum(walls),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    started = time.monotonic()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail(f"run from the repository root: {root}/src/main/scala is missing")

    try:
        cp, src_digest = build.ensure(root)
    except (OSError, subprocess.CalledProcessError) as e:
        fail(f"build failed: {e}")
    run_started = time.monotonic()

    out_root = os.path.join(root, build.BUILD_DIR)
    work = os.path.join(out_root, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t = time.monotonic()
        inputs = generate(args.workload, args.seed, os.path.join(work, "gen"))
        generate_s = time.monotonic() - t
        cpus = os.cpu_count()
        config = {"workload": args.workload, "seconds": args.seconds, "trace": bool(args.trace),
                  "work": work, "cpus": cpus, "setup_rounds": SETUP_ROUNDS, **inputs}
        cfg_path = os.path.join(work, "config.json")
        with open(cfg_path, "w") as f:
            json.dump(config, f)
        res_path = os.path.join(work, "result.json")
        cmd = (["java", *JVM_FLAGS, f"-Djava.io.tmpdir={work}"] +
               [a for m in JDK17_OPENS for a in ("--add-opens", f"{m}=ALL-UNNAMED")] +
               ["-cp", cp, "perfbench.Harness", cfg_path, res_path])
        ticks0 = cpu_ticks()
        with open(os.path.join(work, "jvm.log"), "w") as log:
            budget = DEADLINE_S - (time.monotonic() - run_started)
            try:
                rc = subprocess.run(cmd, stdout=log, stderr=log, timeout=budget).returncode
            except subprocess.TimeoutExpired:
                fail(f"harness did not finish within {budget:.0f}s")
        ticks1 = cpu_ticks()
        if rc != 0 or not os.path.exists(res_path):
            with open(os.path.join(work, "jvm.log")) as log:
                tail = log.read()[-3000:]
            fail(f"harness exited with {rc}:\n{tail}")
        with open(res_path) as f:
            res = json.load(f)
        spans_path = os.path.join(work, "spans.json")
        spans = json.load(open(spans_path)) if os.path.exists(spans_path) else None
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    failed = sum(1 for o in ops if "error" in o)
    correct = failed == 0 and res["final_ok"]
    if args.trace:
        metrics = {k: res["layers"][k] for k in PER_LAYER if k not in ("setup.session_s", "setup.generate_s")}
        metrics["setup.session_s"] = res["session_s"]
        metrics["setup.generate_s"] = generate_s
        units = PER_LAYER
    else:
        metrics = end_to_end(res, generate_s)
        units = END_TO_END

    provenance = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "spark_master": f"local[{cpus}]",
        "git_head": git_head(root), "source_digest": src_digest,
        "jvm_flags": JVM_FLAGS, "spark_version": res["spark_version"],
        "java": subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True).stderr.split("\n")[0],
        "python": platform.python_version(), "sizes": {**WORKLOADS[args.workload], **res["sizes"]},
        "setup_rounds": SETUP_ROUNDS, "unix_time": time.time(),
        "cpu_steal_share": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
    }
    errors = [o["error"] for o in ops if "error" in o] + (
        [res["final_error"]] if "final_error" in res else [])
    record = {"provenance": provenance, "correct": correct, "attempted": len(ops),
              "failed": failed, "error_rate": failed / len(ops), "errors": errors[:10],
              "metrics": metrics, "op_walls_s": [o["wall_s"] for o in ops],
              "op_cpu_s": [o["cpu_s"] for o in ops],
              "progress_durations_ms": res.get("progress_durations_ms"),
              "setup_rounds_s": res["setup_rounds_s"], "measured_s": res["measured_s"],
              "spans": spans}
    os.makedirs(os.path.join(out_root, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(out_root, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json"), "w") as f:
        json.dump(record, f, indent=1)

    print(f"{args.workload} seed={args.seed} ops={len(ops)} failed={failed} "
          f"error_rate={failed / len(ops):.3f} correct={correct} "
          f"measured={res['measured_s']:.1f}s total={time.monotonic() - started:.1f}s")
    for e in errors[:5]:
        print(f"  error: {e}")
    for k, v in metrics.items():
        print(f"  {k:34s} {v:16.6g} {units[k]}")
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
