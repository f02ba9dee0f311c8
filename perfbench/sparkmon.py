"""The Spark side of the benchmark: host pinning, session lifetime,
job-group tagging with status-store readout, and memory read from
``/proc``.

Nothing here changes how the package plans or runs a query. The
session comes from ``lichess_db_spark.session.get_spark``; the
benchmark only fixes the environment it reads (core count, driver
memory) and the directories Spark may write to, so every run of every
commit sees the same host shape.
"""

from __future__ import annotations

import json
import os
import platform
import subprocess
import threading
from collections.abc import Iterator
from contextlib import contextmanager

MAX_CPUS = 4
DRIVER_MEMORY = "2g"


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(root: str, work: str) -> dict:
    """Fix the environment the session and its Python workers inherit,
    and keep every file Spark and the JVM write inside ``work``."""
    cpus = min(MAX_CPUS, host_cpus())
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    old_pp = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        # the Python workers import the package by name (format("pgn"),
        # UDFs); without this they fail with ModuleNotFoundError
        "PYTHONPATH": root if not old_pp else f"{root}{os.pathsep}{old_pp}",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # the whole heap from the start: a heap that grows at its own
        # pace made run-to-run times differ by a third
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Xms{DRIVER_MEMORY} "
                               "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    os.environ.pop("SPARK_GRAFT_CACHE_SCANS", None)
    return {"spark_graft_cpus": cpus, "driver_memory": DRIVER_MEMORY}


def host_stamp(sess: "Session", pinned: dict, seed: int) -> dict:
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": host_cpus(),
        "mem_total_mb": mem_kb // 1024,
        **pinned,
        "seed": seed,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": sess.sc._jvm.System.getProperty("java.version"),  # noqa: SLF001
        "python": platform.python_version(),
    }


class Session:
    """One SparkSession from the package's factory, its JVM process, and
    a ``/proc`` sampler of the JVM's and its Python workers' memory."""

    def __init__(self) -> None:
        from lichess_db_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.proc = self.sc._gateway.proc  # noqa: SLF001  (the JVM we must reap)
        self._store = self.sc._jsc.sc().statusStore()  # noqa: SLF001
        jvm = self.sc._jvm  # noqa: SLF001
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)  # noqa: SLF001
        self.peak_pss_mb = 0.0
        # a sample taken across a reset belongs to the old window: the
        # sampler drops it when the generation moved while it walked /proc
        self._peak_lock = threading.Lock()
        self._peak_gen = 0
        self._stop = threading.Event()
        self._sampler = threading.Thread(target=self._sample_pss, daemon=True)
        self._sampler.start()

    # ---- memory ----
    def reset_peak(self) -> None:
        """Start a new peak window (the timed loop, not set-up)."""
        pss = tree_pss_mb(self.proc.pid)
        with self._peak_lock:
            self._peak_gen += 1
            self.peak_pss_mb = pss

    def _sample_pss(self) -> None:
        while not self._stop.wait(0.2):
            gen = self._peak_gen
            pss = tree_pss_mb(self.proc.pid)
            with self._peak_lock:
                if gen == self._peak_gen:
                    self.peak_pss_mb = max(self.peak_pss_mb, pss)

    # ---- job groups and the status store ----
    @contextmanager
    def tagged(self, tag: str | None) -> Iterator[None]:
        """Run the block's Spark jobs under job group ``tag`` (None: no
        group, the untraced path)."""
        if tag is None:
            yield
            return
        self.sc.setJobGroup(tag, tag)
        try:
            yield
        finally:
            self.sc._jsc.clearJobGroup()  # noqa: SLF001

    def _json(self, obj) -> list:
        return json.loads(self._mapper.writeValueAsString(obj))

    def snapshot(self) -> tuple[list[dict], dict[int, dict]]:
        """(jobs, stages by id) from the live status store. The
        one-argument ``stageList`` fails through py4j in Spark 4.1; the
        five-argument form works."""
        jobs = self._json(self._store.jobsList(None))
        stages = self._json(self._store.stageList(None, False, False, self._no_quantiles, None))
        return jobs, {s["stageId"]: s for s in stages}

    def task_durations(self, stage: dict) -> list[int]:
        tasks = self._json(self._store.taskList(stage["stageId"], stage["attemptId"], 1 << 30))
        return [t["taskMetrics"]["executorRunTime"] for t in tasks if t.get("taskMetrics")]

    def stop(self) -> None:
        """Stop the session and wait until the JVM (and with it every
        Python worker it forked) has exited."""
        self._stop.set()
        self._sampler.join(timeout=5)
        try:
            self.spark.stop()
        finally:
            self.sc._gateway.shutdown()  # noqa: SLF001
            if self.proc.poll() is None:
                self.proc.terminate()
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=30)


def stage_totals(jobs: list[dict], stages: dict[int, dict], groups: set[str]) -> dict:
    """Sums over the stages that ran for jobs in ``groups``; skipped
    stages (never submitted) carry zero metrics and add nothing."""
    ids = {sid for j in jobs if j.get("jobGroup") in groups for sid in j["stageIds"]}
    ran = [stages[s] for s in ids if s in stages and stages[s]["status"] == "COMPLETE"]
    n_jobs = sum(1 for j in jobs if j.get("jobGroup") in groups)
    return {
        "jobs": n_jobs,
        "stages": len(ran),
        "tasks": sum(s["numCompleteTasks"] for s in ran),
        "executor_run_ms": sum(s["executorRunTime"] for s in ran),
        "executor_cpu_ms": sum(s["executorCpuTime"] for s in ran) / 1e6,
        "jvm_gc_ms": sum(s["jvmGcTime"] for s in ran),
        "input_bytes": sum(s["inputBytes"] for s in ran),
        "input_records": sum(s["inputRecords"] for s in ran),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in ran),
        "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ran),
        "stage_list": ran,
    }


def tree_pss_mb(root_pid: int) -> float:
    """Proportional set size of ``root_pid`` and all its descendants, in
    MB, read from /proc (psutil is not available). PSS splits pages
    shared between processes among them, so a forked child (the JVM's
    shell-outs, the Python daemon's workers) is not counted twice."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
