"""Environment pinning, the Spark session and runtime counters."""

from __future__ import annotations

import os
import subprocess
import sys
import time

# The tables are tiny next to the heap (a few tens of MB raw), so a small
# fixed driver heap leaves the box's memory to the Python workers; the
# session's own default (12g) is sized for multi-GB encodes.
DRIVER_MEMORY = "2g"
# Spark writes through the OS page cache and neither the engine nor the
# benchmark calls fsync, on either side of a comparison.
FLUSH_POLICY = "page cache, no fsync (engine and benchmark never call fsync)"


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (from /proc/mounts)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mnt, typ = parts[1], parts[2]
                if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                    best, kind = mnt, typ
    except OSError:
        pass
    return kind


def pin_environment(root: str, work: str, cpus: int) -> dict:
    """Set the variables the JVM and its Python workers inherit; must run
    before the session starts.  Returns the record kept in the result."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        # workers import pyrle_spark from this checkout
        "PYTHONPATH": root,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    }
    os.environ.update(env)
    time.tzset()
    return {
        "nproc": cpus,
        "master": f"local[{cpus}]",
        "driver_memory": DRIVER_MEMORY,
        "work_dir_fs": fs_type(work),
        "flush_policy": FLUSH_POLICY,
        "python": sys.version.split()[0],
    }


def start_session(cpus: int, work: str):
    from pyrle_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "perfbench",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            # no hsperfdata file under /tmp: the run writes only in its checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait(timeout=30)


def versions(spark) -> dict:
    import pyspark

    return {
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
    }


def jvm_gc_ms(spark) -> float:
    """Total collection time of the driver JVM's collectors (in local
    mode the executors run inside this JVM)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))


def cpu_ticks() -> tuple:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # guest time is already included in user/nice
    total = sum(fields[:8])
    return fields[7], total


class JobCounter:
    """Jobs, stages and tasks that one operation ran, read from Spark's
    status tracker under one job group per operation."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def collect(self, group: str) -> dict:
        jobs = stages = tasks = failed = 0
        for jid in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None:
                    continue
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}


def walk_table(table_dir: str) -> dict:
    """File counts and bytes of an encoded table directory."""
    out = {"data_files": 0, "delete_files": 0, "metadata_files": 0,
           "metadata_bytes": 0, "total_bytes": 0, "files": {}}
    if not os.path.isdir(table_dir):
        return out
    for dirpath, _, names in os.walk(table_dir):
        rel = os.path.relpath(dirpath, table_dir)
        top = rel.split(os.sep)[0]
        for n in names:
            p = os.path.join(dirpath, n)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out["total_bytes"] += st.st_size
            out["files"][p] = (st.st_size, st.st_mtime_ns)
            if top == "data":
                out["data_files"] += n.endswith(".parquet")
            elif top == "deletes":
                out["delete_files"] += 1
            elif top == "metadata":
                out["metadata_files"] += 1
                out["metadata_bytes"] += st.st_size
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of files that are new or rewritten between two walks."""
    old = before.get("files", {})
    return sum(sz for p, (sz, mt) in after["files"].items() if old.get(p) != (sz, mt))
