"""Measurement plumbing: the Spark session, process-tree CPU / RSS from
``/proc``, Spark's live status store, and the host-context record.

All of it observes the program from outside: nothing here changes how
the package under test runs.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import subprocess
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ---------------------------------------------------------------------------
# Process tree (driver Python, JVM, Python workers).
# ---------------------------------------------------------------------------


def _stat_all() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                raw = fh.read()
        except OSError:
            continue
        rest = raw[raw.rindex(b")") + 2 :].split()
        ppid = int(rest[1])
        ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
        out[int(name)] = (ppid, ticks / _CLK)
    return out


def tree_pids(root: int | None = None, stats=None) -> list[int]:
    root = root or os.getpid()
    stats = stats if stats is not None else _stat_all()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _c) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in stats:
            out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process and its descendants, including children
    already reaped by a tree member (cutime/cstime), so short-lived Python
    workers are not lost."""
    stats = _stat_all()
    return sum(stats[p][1] for p in tree_pids(stats=stats))


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_memory() -> int:
    """Resident memory of the process tree as summed PSS: pages shared by
    forked Python workers count once, not once per worker."""
    return sum(_pss_bytes(p) for p in tree_pids())


class RssSampler:
    """Background sampler of the tree's resident memory (``tree_memory``);
    ``peak()`` since the last ``reset()``."""

    def __init__(self, interval_s: float = 1.0):
        self._interval = interval_s
        self._peak = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            rss = tree_memory()
            with self._lock:
                self._peak = max(self._peak, rss)

    def reset(self) -> None:
        rss = tree_memory()
        with self._lock:
            self._peak = rss

    def peak(self) -> int:
        rss = tree_memory()
        with self._lock:
            return max(self._peak, rss)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# Spark session and status store.
# ---------------------------------------------------------------------------


def start_spark(work: str, cores: int):
    """Session on ``local[cores]`` with the package's own defaults
    (``session.get_spark``) plus: a driver heap of at most 2 GiB, UI off, status
    store retention large enough for a whole run, scratch dirs inside
    ``work``."""
    from restructure_hdfs_topic_spark.session import get_spark

    tmp = os.path.join(work, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.local.dir": os.path.join(work, "spark-local"),
            # The heap grows on demand, so resident memory follows what the
            # program uses.  No perf-data file: the JVM would write it
            # under /tmp.
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM gateway process, and wait for every
    descendant process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline:
        rest = [p for p in tree_pids() if p != os.getpid()]
        if not rest:
            return
        time.sleep(0.2)
    for pid in tree_pids():
        if pid != os.getpid():
            try:
                os.kill(pid, 9)
            except OSError:
                pass


class StatusStore:
    """Reader of Spark's live AppStatusStore (works with the UI off).
    Jobs and stages are serialized JVM-side by Spark's own Jackson +
    Scala module, one py4j call per listing."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(
            getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
        )
        self._mapper = mapper
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs_since(self, first_job_id: int) -> list[dict]:
        """Finished jobs with id >= ``first_job_id``, ascending, each with
        its executed stages' counters folded in (a stage is billed to the
        lowest-id job that ran it; skipped stages bill nothing)."""
        jobs = [j for j in self._json(self._store.jobsList(None)) if j["jobId"] >= first_job_id]
        jobs.sort(key=lambda j: j["jobId"])
        stages = self._json(self._store.stageList(None, False, False, self._no_quantiles, None))
        by_stage = {}
        for s in stages:
            if s.get("status") == "COMPLETE":
                by_stage.setdefault(s["stageId"], []).append(s)
        billed: set = set()
        for j in jobs:
            acc = dict.fromkeys(
                ("stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes"), 0
            )
            acc["stage_ids"] = []
            for sid in j.get("stageIds", []):
                if sid in billed or sid not in by_stage:
                    continue
                billed.add(sid)
                for s in by_stage[sid]:
                    acc["stages"] += 1
                    acc["tasks"] += s["numCompleteTasks"]
                    acc["run_s"] += s["executorRunTime"] / 1e3
                    acc["cpu_s"] += s["executorCpuTime"] / 1e9
                    acc["gc_s"] += s["jvmGcTime"] / 1e3
                    acc["shuffle_bytes"] += s["shuffleWriteBytes"] + s["shuffleReadBytes"]
                    acc["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                    acc["stage_ids"].append((sid, s["attemptId"]))
            j["acc"] = acc
            j["t0"] = (j.get("submissionTime") or 0) / 1e3
            j["t1"] = (j.get("completionTime") or j.get("submissionTime") or 0) / 1e3
        return jobs

    def next_job_id(self) -> int:
        ids = [j["jobId"] for j in self._json(self._store.jobsList(None))]
        return max(ids) + 1 if ids else 0

    def task_durations(self, stage_id: int, attempt: int) -> list[float]:
        tasks = self._json(self._store.taskList(stage_id, attempt, 1 << 30))
        return [t["duration"] / 1e3 for t in tasks if t.get("duration") is not None]


def job_totals(jobs: list[dict]) -> dict:
    """Summed counters over ``jobs``."""
    out = {"jobs": len(jobs)}
    for key in ("stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes"):
        out[key] = sum(j["acc"][key] for j in jobs)
    return out


# ---------------------------------------------------------------------------
# Host context.
# ---------------------------------------------------------------------------


def steal_s() -> float:
    """Host CPU seconds stolen from this machine's virtual CPUs so far
    (``/proc/stat``); a rise during an iteration means a busy host."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / _CLK if len(fields) > 8 else 0.0
    except (OSError, ValueError):
        return 0.0


def calibration_probe() -> float:
    """Median seconds of three runs of a fixed single-threaded hashing loop;
    compare it across runs to tell a slow or contended host from a slower
    program."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        h = b"perfbench"
        for _ in range(60_000):
            h = hashlib.sha256(h).digest()
        times.append(time.perf_counter() - t0)
    return sorted(times)[1]


def host_context(spark) -> dict:
    jvm = spark._jvm
    return {
        "nproc": cpu_count(),
        "loadavg": list(os.getloadavg()),
        "python": platform.python_version(),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "mem_total_kb": _meminfo("MemTotal"),
        "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
    }


def _meminfo(key: str) -> int | None:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def dir_usage(*roots: str) -> tuple[int, int]:
    """(files, bytes) under the given roots (missing roots count zero)."""
    files = size = 0
    for root in roots:
        for dirpath, _dirs, names in os.walk(root):
            for n in names:
                try:
                    size += os.path.getsize(os.path.join(dirpath, n))
                    files += 1
                except OSError:
                    pass
    return files, size
