"""Product benchmark: levels backfill, NMDB catch-up ticks and corpus curation.

    python3 perfbench/run.py --workload levels_backfill --seed 1 \
        --seconds 8 --trace 0

Builds the program from source (build.py), generates the workload's
inputs from the seed (gen.py), runs the JVM side (src/perfbench/Main.scala)
against them, checks the outputs, and prints as its last stdout line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones
(BENCHMARK.json lists both). Exits 0 only when every check passed.
Everything it writes stays under perfbench/ in the checkout.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("levels_backfill", "nmdb_catchup", "curate", "levels_cron")
# the whole command must end within 180 s; levels_cron cannot (see README)
DEADLINE_S = {"levels_cron": 900}
# a fixed heap (-Xms = -Xmx) keeps the heap-growth heuristics out of
# peak_rss_mb, which otherwise spread by 20 % between identical runs
HEAP = "2g"

# build.sbt's forked-JVM options (Spark 4 on JDK 17 outside spark-submit)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

LAYER_METRICS = [
    "LevelPipeline.level1.self_s", "LevelPipeline.level2.self_s",
    "LevelPipeline.level3.self_s", "LevelPipeline.level4.self_s",
    "LevelPipeline.level1.rows_out", "LevelPipeline.level2.rows_out",
    "LevelPipeline.level3.rows_out", "LevelPipeline.level4.rows_out",
    "LevelPipeline.level1.rows_flagged",
    "IncrementalRunner.upsertByDay.self_s",
    "IncrementalRunner.upsertByKey.self_s",
    "IncrementalRunner.partitions_written", "IncrementalRunner.files_written",
    "IncrementalRunner.bytes_written", "IncrementalRunner.write_amp",
    "IncrementalRunner.rows_changed_frac",
    "NmdbCatchup.self_s", "NmdbCatchup.hours_appended",
    "NmdbCatchup.hours_planned",
    "DedupOps.lineDedup.self_s", "TextOps.qualityScore.self_s",
    "DedupOps.flagContaminated.self_s", "PipelineCli.curate.write_s",
    "DedupOps.flagContaminated.hit_ratio",
    "spark.plan_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_run_s", "spark.task_cpu_s", "spark.driver_gap_s",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.spill_bytes", "spark.scan_bytes", "spark.gc_task_ms",
    "spark.gc_jvm_ms", "trace.overhead_frac",
]


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "B"
    if name.endswith(("_frac", "_ratio", "write_amp")):
        return "ratio"
    return "count"


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cpu_jiffies():
    """(steal, total) jiffies from /proc/stat's aggregate line; the total
    sums fields 1..8 only (guest time is already inside user/nice)."""
    try:
        with open("/proc/stat") as f:
            parts = [int(x) for x in f.readline().split()[1:]]
        return parts[7] if len(parts) > 7 else 0, sum(parts[:8])
    except OSError:
        return None


def tree_digest(root):
    h = hashlib.sha256()
    for p in sorted(Path(root).rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def ledger_check(name, key, value):
    """Check `name`: `value` equals what an earlier run in this checkout
    recorded under `key` in .state/. The first run records it and checks
    nothing."""
    f = HERE / ".state" / f"{key}.{name}"
    if not f.is_file():
        f.parent.mkdir(exist_ok=True)
        f.write_text(value + "\n")
        return []
    seen = f.read_text().strip()
    return [{"name": name, "ok": seen == value,
             "detail": f"{value} vs {seen} recorded earlier"}]


def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, n); with ten samples or fewer, the maximum."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    k = n - 11                     # 10 samples sit above index k
    return s[k], 100.0 * (k + 1) / n, n


def trace_file(args):
    """Where the traced run's spans go; they outlive the run's work dir."""
    d = HERE / ".state" / "traces"
    d.mkdir(parents=True, exist_ok=True)
    return d / f"{args.workload}-seed{args.seed}.json"


def run_jvm(args, work, cp, cpus, deadline):
    (work / "tmp").mkdir(exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ([build.java_bin(), "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={work / 'tmp'}",
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--dir", str(work / "data"),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cpus", str(cpus),
              "--trace-out", str(trace_file(args))])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    err = open(work / "jvm.log", "w")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=err, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(10.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        err.close()
        raise RuntimeError("JVM side timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    err.close()
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            return json.loads(line[len("PERFBENCH_RESULT "):])
    log = (work / "jvm.log").read_text()[-3000:]
    raise RuntimeError(f"no result line (exit {proc.returncode}):\n{log}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()

    try:
        stamp, cp = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}")
    built = time.time()
    # a first run's build has its own budget
    deadline = built + DEADLINE_S.get(args.workload, 170)

    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        # staged cron ticks: enough for ticks of 0.2 s
        ticks = int(args.seconds * 5) + 12
        t0 = time.perf_counter()
        gen.generate(args.workload, args.seed, str(work / "data"), ticks=ticks)
        gen_s = time.perf_counter() - t0
        digest = tree_digest(work / "data")
        cpus = max(1, min(4, os.cpu_count() or 1))
        j0 = cpu_jiffies()
        launch_ms = time.time() * 1000
        res = run_jvm(args, work, cp, cpus, deadline)
        j1 = cpu_jiffies()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    checks = list(res["checks"])
    # the same generator and seed must give the same inputs in every run
    gen_stamp = hashlib.sha256((HERE / "gen.py").read_bytes()).hexdigest()[:16]
    checks += ledger_check("inputs_repeat_for_seed",
                           f"{args.workload}-seed{args.seed}-ticks{ticks}-{gen_stamp}",
                           digest)
    h = res["e2e"].get("content_hash")
    if h is not None:
        # and the same build on the same inputs the same output
        checks += ledger_check("output_hash_repeats_across_runs",
                               f"{args.workload}-{stamp}-{digest[:24]}", h)
    correct = all(c["ok"] for c in checks) and res["attempted"] > 0
    # a run-level check that failed with every operation passing still
    # counts one failure; a run that never reached its loop counts one
    # failed attempt
    attempted = max(1, res["attempted"])
    failed = res["failed"] if correct else max(1, res["failed"])
    steal = (-1.0 if not (j0 and j1 and j1[1] > j0[1])
             else 100.0 * (j1[0] - j0[0]) / (j1[1] - j0[1]))
    setup_s = (gen_s
               + (res["jvm_start_ms"] - launch_ms) / 1000
               + sum(res["setup"].values()))

    info = {"workload": args.workload, "seed": args.seed,
            "trace": args.trace, "wall_s": round(time.time() - started, 3),
            "build_s": round(built - started, 3),
            "steal_pct": round(steal, 3), "env": res["env"],
            "setup_parts": res["setup"],
            "gen_s": round(gen_s, 4),
            "op_seconds": res["op_seconds"],
            "traced_op_seconds": res["traced_op_seconds"],
            "failed_frac": res["failed"] / max(1, res["attempted"]),
            "info": res["info"],
            "failed_checks": [c for c in checks if not c["ok"]][:20]}

    if args.trace:
        metrics = {}
        for name in LAYER_METRICS:
            v = res["layer"].get(name, 0.0)
            metrics[name] = {"value": float(v), "unit": unit_of(name)}
    else:
        ops = res["op_seconds"]
        p50 = statistics.median(ops) if ops else float("nan")
        info["op_p50_s"] = p50
        info["op_tail_s"], info["tail_percentile"], info["op_samples"] = (
            tail(ops) if ops else (float("nan"), 0.0, 0))
        e2e = res["e2e"]
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "rows_per_s": {"value": res["rows_per_op"] / p50, "unit": "1/s"},
            "store_bytes_per_row": {
                "value": e2e.get("store_bytes", 0) / max(1, e2e.get("store_rows", 0)),
                "unit": "B/row"},
            "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
        }
        for m in metrics.values():
            if isinstance(m["value"], float) and not math.isfinite(m["value"]):
                m["value"] = 0.0
                correct = False
    print("perfbench " + json.dumps(info, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
