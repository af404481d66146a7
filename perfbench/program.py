"""Starting the engine and reading host and process facts.

Shared by the benchmark process (batch workloads run the engine
in-process) and ``server.py`` (the interactive workload's server).
"""

from __future__ import annotations

import os
import subprocess
import time

# Engine knobs pinned to their defaults: any override in the caller's
# environment is removed before the engine is imported.
ENGINE_KNOBS = ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_CYPHER_NUMERIC_IDS")
FP_PIN_CONF = "spark.mimranalytics.fp_pin_max_rows"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def task_slots() -> int:
    """Engine task threads: half the CPUs. The other half is left to the
    JVM's compiler and GC threads, the Python driver and the load
    generator, so a busy neighbour on a shared host slows the run less
    (on 4 CPUs with two spinning processes beside it, a compliance pass
    slowed ~40% on local[4] and ~14% on local[2]; quiet, both take the
    same time, as the operations are dominated by per-job overhead)."""
    return max(1, cpus() // 2)


def engine_env(work: str, trace: bool) -> dict[str, str]:
    """Environment for a process that runs the engine: default knobs,
    local[task_slots()], and every temporary path inside the run's work dir."""
    env = dict(os.environ)
    for key in ENGINE_KNOBS:
        env.pop(key, None)
    env["SPARK_GRAFT_CPUS"] = str(task_slots())
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    # the JVM's temporary files go to the work dir; -UsePerfData stops it
    # writing its hsperfdata file under /tmp
    java_opts = f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData"
    args = [f"--conf spark.driver.extraJavaOptions='{java_opts}'"]
    # the same for the short-lived JVM that spark-submit's launcher starts
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        args += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=true",
            f"--conf spark.eventLog.dir=file://{log_dir}",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)
    return env


def start_engine(data_dir: str):
    """Session start and table footers.

    Returns (spark, {"start_s", "warm_s"}), the way a fresh engine
    process reaches its first useful request. Python workers are not
    warmed: no operation of either workload runs a Python UDF.
    """
    t0 = time.perf_counter()
    from mimranalytics_core_spark.operators._base import tables
    from mimranalytics_core_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    for df in tables(spark, data_dir).values():
        df.select(df.columns[0]).limit(1).count()
    return spark, {"start_s": t1 - t0, "warm_s": time.perf_counter() - t1}


def stop_engine(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to exit
    (the JVM exits when its stdin pipe from this process closes)."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()


def engine_config(spark) -> dict:
    from mimranalytics_core_spark import cypher, session

    return {
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": session.DEFAULT_SHUFFLE_PARTITIONS,
        "SPARK_GRAFT_CYPHER_NUMERIC_IDS": cypher._NUMERIC_IDS,
        FP_PIN_CONF: spark.conf.get(FP_PIN_CONF, "20000 (default)"),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """VmHWM of this Python driver plus its JVM, in MiB."""
    pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        return sum(vals), vals[7] if len(vals) > 7 else 0
    except OSError:
        return 0, 0
