"""Benchmark of the dedupe job a pgdedupe user runs:

    python -m pgdedupe_spark --config ... --input ... --output ... \\
        --training ... --learn-rules

Usage (from the repository root)::

    python3 erbench/run.py --workload er_small_batch --seed 1 --seconds 30 --trace 0

It generates the workload's inputs from ``--seed`` (``gen.py``), then
starts fresh processes (``job.py``), one after another, each setting up
Spark and running the job once, until ``--seconds`` have passed (at least
one), and then, untraced, one that only sets up Spark. Each run's outputs
are checked and scored against the generator's ground truth. The last
line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``; with ``--trace 1``, the per-layer metrics of one fresh
process that runs the CLI under the tracer (``layers.py``).
Progress goes to standard error. See README.md for the metric table.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
from layers import LAYERS  # noqa: E402
from probes import RssSampler, end_group  # noqa: E402

# quality floors per workload; a run under either floor counts as failed
FLOORS = {
    "er_small_batch": {"pair_precision": 0.90, "pair_recall": 0.85},
    "er_dup_heavy": {"pair_precision": 0.90, "pair_recall": 0.90},
    "smoke": {"pair_precision": 0.50, "pair_recall": 0.50},
}

# an invocation starts no job that would end, and kills any job still
# running, this many seconds after the invocation started
DEADLINE_S = 170
# after the jobs, one process that only sets up Spark, so that setup_s is
# a median of two set-ups; it is given SETUP_TIMEOUT_S. It starts only
# while the invocation is SETUP_PROBE_S (~6 s, with margin) within its
# share of the 3420 s that 48 invocations may take, less the class archive
# built in the first one of a checkout (RUN_BUDGET_S).
SETUP_TIMEOUT_S = 30
SETUP_PROBE_S = 7
RUN_BUDGET_S = 62

# JIT and GC threads of the untraced jobs, fitted to a few shared CPUs.
# With the default tiered JIT, C2 compiler threads burned 32-66 CPU
# seconds in a ~40 s job on 4 CPUs, so its wall time followed whatever CPU
# the host left: beside two busy loops an er_dup_heavy job took 66 s
# instead of 40 s; with these flags, 42 s instead of 38 s. The traced run
# keeps the default JIT: under these flags its materialized layer
# boundaries made exact-merge pass 2 and the sinks 2-3 times slower, and a
# traced er_dup_heavy run took 135 s instead of 70-80 s.
UNTRACED_JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:CICompilerCount=2 -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1"

# metric name -> unit; the names BENCHMARK.json declares
END_TO_END = {
    "setup_s": "s", "wall_s": "s", "peak_rss_mb": "MB",
    "pair_precision": "ratio", "pair_recall": "ratio", "ok_rate": "ratio",
}
LAYER_COUNTERS = {
    "self_s": "s", "rows_out": "rows", "jobs": "count", "tasks": "count",
    "exec_run_s": "s", "exec_cpu_s": "s", "shuffle_mb": "MB", "spill_mb": "MB", "gc_s": "s",
}
LAYER_STATS = {
    "collapse.unique_ratio": "ratio",
    "blocking.block_p50": "rows", "blocking.block_p99": "rows", "blocking.block_max": "rows",
    "blocking.pair_bound": "pairs",
    "pairs.candidates": "pairs", "pairs.kolb_keep_ratio": "ratio", "pairs.cap_dropped": "rows",
    "scoring.accept_ratio": "ratio",
    "clustering.clusters": "count", "clustering.cluster_max": "rows",
    "exact_merge.relabels": "rows",
}
ENGINE = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.exec_cpu_s": "s", "spark.shuffle_mb": "MB", "spark.cpu_util": "ratio",
    "jvm.heap_after_gc_mb": "MB",
}
PER_LAYER = {
    **{f"{layer}.{c}": u for layer in LAYERS for c, u in LAYER_COUNTERS.items()},
    **LAYER_STATS,
    **ENGINE,
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def child_env(tmp: str) -> dict:
    # the program's own settings at their defaults, whatever the caller set
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["PYTHONPATH"] = os.pathsep.join([ROOT, env.get("PYTHONPATH", "")]).rstrip(os.pathsep)
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # with the session's default 8 GB heap, G1 grew the young generation
    # into spare memory: a traced er_dup_heavy run reached 14.8 GB of
    # summed RSS on a 16 GB machine, and untraced runs spread by a third.
    # The traced run reports the heap it needs (jvm.heap_after_gc_mb).
    env["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # keep every scratch file inside the checkout
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = tmp
    # an empty configuration directory at a fixed path: the class archive
    # (class_archive) refuses a class path that holds a non-empty
    # directory, and a job must start with the class path it was built on
    env["SPARK_CONF_DIR"] = os.path.join(ROOT, ".erbench_work", "conf")
    os.makedirs(env["SPARK_CONF_DIR"], exist_ok=True)
    # no console progress bar: the job's output is captured, not watched;
    # no JVM perf-data file, which would go to /tmp whatever the tmpdir
    opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dspark.ui.showConsoleProgress=false"
    env["SPARK_SUBMIT_OPTS"] = opts
    return env


def run_job(inputs: str, out: str, env: dict, mode: str, timeout: float) -> tuple[dict | None, float]:
    """One fresh job process (``job.py --mode``); returns (its result or
    None, peak RSS MB)."""
    os.makedirs(out, exist_ok=True)
    result_path = os.path.join(out, "result.json")
    gc_log = os.path.join(out, "gc.log")
    env = dict(env, SPARK_SUBMIT_OPTS=f"{env['SPARK_SUBMIT_OPTS']} -Xlog:gc:file={gc_log}")
    cmd = [
        sys.executable, os.path.join(HERE, "job.py"),
        "--inputs", inputs, "--out", out, "--result", result_path,
        "--launched", repr(time.time()), "--mode", mode,
    ]
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    sampler = RssSampler([proc.pid]).start()
    try:
        _, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        _, err = proc.communicate()
        log("job timed out")
    peak = sampler.stop()
    # the JVM and the Python workers outlive the job process briefly
    end_group(proc.pid, sampler.seen)
    if proc.returncode != 0 or not os.path.exists(result_path):
        log(err[-4000:])
        log(f"job exited with {proc.returncode}")
        return None, peak
    with open(result_path) as f:
        result = json.load(f)
    result["rss_covers_jvm"] = result["jvm_pid"] in sampler.seen
    result["heap_after_gc_mb"] = heap_after_gc(gc_log)
    return result, peak


def heap_after_gc(gc_log: str) -> float:
    """Peak heap occupancy right after a collection, in MB, from the
    driver JVM's GC log (``[gc] GC(7) Pause Young ... 1100M->420M(2048M)``);
    0 when it never collected."""
    with open(gc_log) as f:
        return float(max((int(m) for m in re.findall(r"\d+M->(\d+)M\(", f.read())), default=0))


def class_archive(env: dict, work: str) -> str:
    """The JVM's class-data-sharing archive of the classes a job loads,
    built once per checkout by an untimed ``er_small_batch`` job. A job
    that starts from it maps those classes instead of loading and
    verifying them from Spark's jars, which on 4 CPUs takes about 7 s off
    set-up and about as much off the job; it changes nothing the program
    does."""
    path = os.path.join(ROOT, ".erbench_work", "classes.jsa")
    if not os.path.exists(path):
        log("building the JVM class archive, once per checkout")
        inputs = os.path.join(work, "archive-inputs")
        gen.write_inputs("er_small_batch", 0, inputs)
        opts = f"{env['SPARK_SUBMIT_OPTS']} -XX:ArchiveClassesAtExit={path}.tmp"
        result, _ = run_job(inputs, os.path.join(work, "archive-run"), dict(env, SPARK_SUBMIT_OPTS=opts), "cli", 600)
        # the JVM writes the archive as it exits, and run_job waits for that
        if result is None or result["rc"] != 0 or not os.path.exists(path + ".tmp"):
            raise RuntimeError("building the JVM class archive failed")
        os.replace(path + ".tmp", path)
    return path


def keep_spans(path: str, name: str) -> None:
    """Keep a traced run's spans after its work directory is removed."""
    if os.path.exists(path):
        dest = os.path.join(ROOT, ".erbench_work", "spans", name)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copyfile(path, dest)
        log(f"spans: {dest}")


def check_outputs(out_dir: str, inputs: str) -> dict:
    """The output contract and pair quality of one run. Returns the pair
    metrics and a list of violated checks."""
    import pyarrow.parquet as pq

    source = pq.read_table(os.path.join(inputs, "entries.parquet"), columns=["entry_id"]).to_pandas()
    truth = pq.read_table(os.path.join(inputs, "truth.parquet")).to_pandas()
    umap = pq.read_table(os.path.join(out_dir, "unique_map.parquet")).to_pandas()
    emap = pq.read_table(os.path.join(out_dir, "entity_map.parquet")).to_pandas()
    n_deduped = pq.read_table(os.path.join(out_dir, "deduped.parquet"), columns=["entry_id"]).num_rows

    bad = []
    if len(umap) != len(source) or umap["entry_id"].nunique() != len(umap) or set(umap["entry_id"]) != set(
        source["entry_id"]
    ):
        bad.append("unique_map does not hold every source key exactly once")
    if umap["dedupe_id"].isna().any():
        bad.append("unique_map has a null dedupe_id")
    if n_deduped != len(source):
        bad.append(f"deduped has {n_deduped} rows, source {len(source)}")
    least = emap.groupby("canon_id")["_unique_id"].min()
    if (least.values != least.index.values).any():
        bad.append("a canon_id is not its cluster's minimum member")

    joined = umap.merge(truth, on="entry_id")

    def pairs(counts) -> int:
        return int((counts * (counts - 1) // 2).sum())

    same_cluster = pairs(joined.groupby("dedupe_id").size())
    same_person = pairs(joined.groupby("person_id").size())
    both = pairs(joined.groupby(["dedupe_id", "person_id"]).size())
    return {
        "pair_precision": both / same_cluster if same_cluster else 1.0,
        "pair_recall": both / same_person if same_person else 1.0,
        "violations": bad,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="dedupe job benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "pgdedupe_spark")):
        log(f"pgdedupe_spark not found under {ROOT}: run from a checkout of the repository")
        return 2

    invoked = time.time()
    work = os.path.join(ROOT, ".erbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    inputs = os.path.join(work, "inputs")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        props = gen.write_inputs(args.workload, args.seed, inputs)
        log(f"inputs {args.workload} seed {args.seed}: {json.dumps(props)}")
        env = child_env(tmp)
        if not args.trace:
            env["SPARK_SUBMIT_OPTS"] += f" {UNTRACED_JVM_OPTS}"
        env["SPARK_SUBMIT_OPTS"] += f" -XX:SharedArchiveFile={class_archive(env, work)}"
        # the deadline is for measuring; the first run in a checkout also builds
        invoked = time.time()
        floors = FLOORS[args.workload]
        runs, attempted, failed, last = [], 0, 0, 0.0
        started = time.time()
        while attempted == 0 or (
            not args.trace
            and time.time() - started < args.seconds
            and time.time() - invoked + last < DEADLINE_S
        ):
            out = os.path.join(work, f"run{attempted}")
            attempted += 1
            job_start = time.time()
            timeout = DEADLINE_S - (job_start - invoked)
            result, peak = run_job(inputs, out, env, "trace" if args.trace else "cli", timeout)
            last = time.time() - job_start
            if result is None or result["rc"] != 0:
                failed += 1
                continue
            try:
                quality = check_outputs(os.path.join(out, "output"), inputs)
            except Exception:  # a missing or unreadable output fails this run only
                log(traceback.format_exc())
                failed += 1
                continue
            if not result["rss_covers_jvm"]:
                quality["violations"].append("the memory samples missed the driver JVM")
            if result.get("status_evicted"):
                quality["violations"].append("the status store dropped stages before they were read")
            for name, floor in floors.items():
                if quality[name] < floor:
                    quality["violations"].append(f"{name} {quality[name]:.4f} below floor {floor}")
            result.update(quality, peak_rss_mb=peak)
            log(
                f"run {attempted}: setup {result['setup_s']:.2f}s wall {result['wall_s']:.2f}s "
                f"rss {peak:.0f}MB precision {quality['pair_precision']:.4f} "
                f"recall {quality['pair_recall']:.4f} {quality['violations'] or 'ok'}"
            )
            if quality["violations"]:
                failed += 1
            else:
                runs.append(result)
            if args.trace:
                keep_spans(os.path.join(out, "spans.json"), f"{args.workload}-{args.seed}.json")
        setups = [r["setup_s"] for r in runs]
        if not args.trace and time.time() - invoked + SETUP_PROBE_S <= RUN_BUDGET_S:
            attempted += 1
            result, _ = run_job(inputs, os.path.join(work, "setup"), env, "setup", SETUP_TIMEOUT_S)
            if result is None:
                failed += 1
            else:
                log(f"set-up alone: {result['setup_s']:.2f}s")
                setups.append(result["setup_s"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = per_layer_metrics(runs[0]) if runs else {}
    else:
        metrics = {n: statistics.median(r[n] for r in runs) for n in END_TO_END if runs and n != "ok_rate"}
        if runs:
            metrics["setup_s"] = statistics.median(setups)
        # reported when every run failed too, so that it can show a failure
        metrics["ok_rate"] = (attempted - failed) / attempted
    units = {**END_TO_END, **PER_LAYER}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def per_layer_metrics(run: dict) -> dict:
    """The traced run's layer metrics and statistics, and its engine-wide
    counters over all layers."""
    eng = run["engine"]
    out = dict(run["layers"])
    out.update((k, run["stats"][k]) for k in LAYER_STATS)
    out.update((f"spark.{k}", eng[k]) for k in ("jobs", "stages", "tasks", "exec_cpu_s", "shuffle_mb"))
    out["spark.cpu_util"] = eng["exec_cpu_s"] / (eng["busy_s"] * eng["cores"])
    out["jvm.heap_after_gc_mb"] = run["heap_after_gc_mb"]
    return out


if __name__ == "__main__":
    sys.exit(main())
