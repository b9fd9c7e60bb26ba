"""Spark status-store counters and process-tree memory, read from outside
the program.

``SparkStatus`` reads the core ``AppStatusStore`` (it works with the UI
disabled) and serializes its stage list to JSON in one call, with the same
Jackson mapper Spark's REST API uses. The store keeps only the most recent
~1000 stages, so callers read it after every layer call
(:meth:`SparkStatus.delta`), and it keeps what it saw. Job and stage ids
come from the DAG scheduler's counters.

``RssSampler`` samples the resident memory (RSS) of a process tree from
``/proc``: the job's Python process, the driver JVM it launched and the
JVM's Python daemon and workers. It keeps the peak of the sum. Pages a
forked Python worker still shares with its daemon count once per process.
"""

from __future__ import annotations

import contextlib
import json
import os
import signal
import threading
import time

MB = 1024 * 1024

# per-stage fields summed into a delta, and the unit factor to apply
_STAGE_SUMS = {
    "tasks": ("numCompleteTasks", 1),
    "exec_run_s": ("executorRunTime", 1e-3),
    "exec_cpu_s": ("executorCpuTime", 1e-9),
    "shuffle_mb": ("shuffleWriteBytes", 1 / MB),
    "spill_mb": ("diskBytesSpilled", 1 / MB),
    "gc_s": ("jvmGcTime", 1e-3),
}


class SparkStatus:
    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            scala_module.__getattr__("MODULE$")
        )
        self._store = sc._jsc.sc().statusStore()
        self._dag = sc._jsc.sc().dagScheduler()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self.cores = sc.defaultParallelism
        self.stages: dict[int, dict] = {}
        self.evicted = False

    def mark(self) -> tuple[int, int]:
        """(next job id, next stage id), read from the DAG scheduler."""
        return self._dag.numTotalJobs(), self._dag.nextStageId()

    def delta(self, since: tuple[int, int]) -> dict:
        """Counters of the jobs and executed stages created since ``since``.
        Copies every stage the store still holds; notes in ``evicted`` when
        some of those stages were already gone from it."""
        stages = json.loads(
            self._mapper.writeValueAsString(
                self._store.stageList(None, False, False, self._no_quantiles, None)
            )
        )
        self.stages.update((s["stageId"], s) for s in stages)
        job0, stage0 = since
        job1, stage1 = self.mark()
        if any(i not in self.stages for i in range(stage0, stage1)):
            self.evicted = True
        done = [self.stages[i] for i in range(stage0, stage1) if i in self.stages]
        done = [s for s in done if s["status"] in ("COMPLETE", "FAILED")]
        out = {"jobs": job1 - job0, "stages": len(done)}
        for name, (field, scale) in _STAGE_SUMS.items():
            out[name] = sum(s[field] for s in done) * scale
        return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows its ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def end_group(pgid: int, pids: set[int], grace: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended; kill the process
    group ``pgid`` if any is still running after ``grace`` seconds."""
    deadline = time.time() + grace
    while any(_alive(p) for p in pids):
        if time.time() > deadline:
            with contextlib.suppress(ProcessLookupError):
                os.killpg(pgid, signal.SIGKILL)
        time.sleep(0.05)


def _rss_bytes(pid: int) -> int:
    """Resident memory from ``/proc/<pid>/status``. It is cheap to read;
    ``smaps_rollup`` (PSS) walks the page tables under the process's memory
    lock, which at five reads a second slowed the JVM it measured."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pids(roots: list[int]) -> set[int]:
    """``roots`` and all their live descendants."""
    kids = _children()
    seen, todo = set(), list(roots)
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.add(pid)
            todo.extend(kids.get(pid, ()))
    return seen


class RssSampler:
    """Peak of the summed RSS of the given process trees, sampled every
    ``interval`` seconds on a daemon thread between ``start`` and ``stop``."""

    def __init__(self, roots: list[int], interval: float = 0.2):
        self._roots = roots
        self._interval = interval
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak = 0
        self.seen: set[int] = set()

    def _sample(self) -> None:
        pids = tree_pids(self._roots)
        self.seen |= pids
        self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))

    def _run(self) -> None:
        while True:
            self._sample()
            if self._done.wait(self._interval):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._done.set()
        self._thread.join()
        return self.peak / MB
