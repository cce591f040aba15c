"""Spark session lifecycle for the benchmark: pinned resources, import
isolation, process-tree RSS sampling, event-log parsing and a teardown that
waits for every process the session started."""

from __future__ import annotations

import glob
import json
import os
import platform
import signal
import subprocess
import threading
import time
from pathlib import Path

PAGE = os.sysconf("SC_PAGE_SIZE")


def pin_environment(root: Path, work: Path, cores: int, driver_mem: str) -> None:
    """Point every path Spark, the JVM and Python write to inside ``work``
    and make the checkout at ``root`` the only importable engine, for the
    driver and (through PYTHONPATH, inherited by the JVM) its workers."""
    for d in ("tmp", "spark-local", "eventlog", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = driver_mem
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = str(root)
    # one Arrow thread per task: k tasks then need k cores, not k x nproc
    os.environ["OMP_NUM_THREADS"] = "1"
    os.environ.pop("SPARK_SUBMIT_DEPLOY_MODE", None)


def spark_conf(work: Path, cores: int, traced: bool) -> dict:
    # the JVM's garbage collector gets as many threads as there are task slots
    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "
                                         f"-XX:ParallelGCThreads={cores} -XX:ConcGCThreads=1",
    }
    if traced:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = (work / "eventlog").as_uri()
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def _worker_import_paths(_):
    import nail_parquet_spark
    import nail_parquet_spark.codec.decode  # noqa: F401  (warms the worker)
    import nail_parquet_spark.codec.encode  # noqa: F401

    return [(os.getpid(), nail_parquet_spark.__file__)]


def check_isolation(spark, root: Path) -> dict:
    """Raise unless the driver and every worker task import the engine from
    the checkout at ``root``."""
    import nail_parquet_spark

    drv = Path(nail_parquet_spark.__file__).resolve()
    if not drv.is_relative_to(root):
        raise RuntimeError(f"driver imports nail_parquet_spark from {drv}, not {root}")
    n = spark.sparkContext.defaultParallelism
    seen = spark.sparkContext.parallelize(range(n), n).mapPartitions(_worker_import_paths).collect()
    bad = [f for _, f in seen if not Path(f).resolve().is_relative_to(root)]
    if bad:
        raise RuntimeError(f"worker imports nail_parquet_spark from {bad}, not {root}")
    return {"driver": str(drv), "worker_pids": len({p for p, _ in seen})}


def environment_record(spark, cores: int, driver_mem: str) -> dict:
    import pyarrow
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": os.cpu_count(), "master": spark.sparkContext.master, "cores": cores,
        "ram_gb": round(mem_kb / 2**20, 1), "driver_mem": driver_mem,
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "java": java.splitlines()[0] if java else "?",
    }


def cpu_times() -> list[int]:
    """The host's summed CPU time counters (user ... steal), from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time a hypervisor gave to other guests between two
    cpu_times() readings: on a shared VM, the main cause of op times that
    drift from run to run."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def fs_type(path: Path) -> str:
    """File system type of the mount holding ``path`` (disk or tmpfs sink)."""
    best, kind = "", "?"
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, fstype = line.split()[:3]
            if str(path).startswith(mnt) and len(mnt) > len(best):
                best, kind = mnt, fstype
    return kind


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    return kids


def process_tree(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_rss_bytes(pid: int) -> int:
    total = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Peak summed RSS of the driver JVM and its Python workers, sampled
    from /proc on a background thread."""

    def __init__(self, pid: int, period_s: float = 0.25) -> None:
        self.pid, self.period_s, self.peak = pid, period_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.pid))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait until every process
    in its tree (the Python worker daemon and its workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    pids = process_tree(gateway.proc.pid) if gateway is not None else []
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        alive = list(pids)
        while alive and time.monotonic() < deadline:
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                     and _state(p) != "Z"]
            time.sleep(0.1)
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "X"


def parse_event_log(work: Path) -> dict[str, dict]:
    """Per job group: jobs, tasks, task durations, executor run time, JVM GC
    time and shuffle bytes, from Spark's event log (complete after stop)."""
    files = sorted(glob.glob(str(work / "eventlog" / "*")))
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def grp(name: str) -> dict:
        return groups.setdefault(name, {"jobs": 0, "tasks": 0, "task_s": [], "run_ms": 0,
                                        "gc_ms": 0, "shuffle_bytes": 0})
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                    grp(g)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = grp(stage_group.get(ev.get("Stage ID"), "-"))
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["task_s"].append((info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3)
                    g["run_ms"] += m.get("Executor Run Time", 0)
                    g["gc_ms"] += m.get("JVM GC Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return groups
