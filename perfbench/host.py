"""Size the Spark session for the host, from the benchmark's side.

The engine's ``config.get_spark`` reads ``SPARK_GRAFT_CPUS`` and
``SPARK_DRIVER_MEM`` from the environment; left unset they default to 32
cores and a 24 GB heap, which is more than a small host has. The
benchmark sets them here, together with the scratch directories and the
``PYTHONPATH`` the Arrow (``mapInPandas``) workers need to import the
engine. Nothing here edits engine code.
"""

from __future__ import annotations

import os


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spark_cpus() -> int:
    """Task slots for ``local[...]``: half the host's cores. The client,
    the JVM's own threads and the Python workers need the rest. With two
    spinning processes beside it on a 4-core host, a single-placement
    query batch took 61 % longer at ``local[4]`` and 31 % longer at
    ``local[2]``; unloaded, ``local[4]`` was no faster."""
    return max(1, host_cpus() // 2)


def host_mem_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def driver_mem(mem_bytes: int) -> str:
    """A quarter of host memory, between 1 and 8 GB: the driver JVM also
    runs every local executor task, but the Python workers and the OS
    need the rest."""
    gb = max(1, min(8, mem_bytes // (4 << 30)))
    return f"{gb}g"


def configure(root: str, work: str, trace: bool) -> dict:
    """Set the environment for one benchmark process; returns what it set.

    ``work`` is the run's scratch directory inside the checkout. With
    ``trace`` the Spark event log is switched on, uncompressed and not
    rolling, so ``eventlog.read`` can sum task metrics per job group.
    """
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    mem = driver_mem(host_mem_bytes())
    env = {
        "SPARK_GRAFT_CPUS": str(spark_cpus()),
        "SPARK_DRIVER_MEM": mem,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
    }
    confs = ["spark.ui.showConsoleProgress=false",
             f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
             # a fixed heap: with a heap G1 could resize, ops runs spent
             # 1.9 s to 6.9 s in collection pauses, with -Xms about 0.5 s
             f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
             f"-XX:-UsePerfData -Xms{mem}"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs += ["spark.eventLog.enabled=true",
                  f"spark.eventLog.dir=file://{log_dir}",
                  "spark.eventLog.compress=false",
                  "spark.eventLog.rolling.enabled=false"]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf '{c}'" for c in confs) + " pyspark-shell"
    os.environ.update(env)
    return env
