"""One Spark session per run, sized to the host and kept in the checkout.

The session comes from the program's own ``get_spark`` on
``local[nproc]`` with ``SPARK_GRAFT_CPUS=nproc``; every other setting
stays at its default, so a later change to session sizing shows in the
benchmark's memory and set-up figures.

One departure from ``get_spark``, made so that a run reads and writes
only inside its checkout: ``get_spark`` puts ``spark.local.dir``
(shuffle and spill files) on ``/dev/shm`` when it can, and the
benchmark moves it, with ``TMPDIR`` and the JVM's ``java.io.tmpdir``,
into the run's work directory instead (``SPARK_LOCAL_DIRS``, which
Spark prefers over ``spark.local.dir``). ``--spark-local program``
keeps ``get_spark``'s choice, to compare the two; see the README for
the measured difference.
"""

from __future__ import annotations

import contextlib
import os
import sys


def prepare_env(work: str, cpus: int, root: str, spark_local: str) -> None:
    """Environment for the JVM and Python workers; call before the
    session starts. ``spark_local`` is ``checkout`` or ``program``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    if spark_local == "checkout":
        local = os.path.join(work, "spark-local")
        os.makedirs(local, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    # no hsperfdata file under /tmp, JVM temp files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


@contextlib.contextmanager
def _local_dir_outside_refused(work: str):
    """``get_spark`` creates ``/dev/shm/spark-local`` for
    ``spark.local.dir``. ``SPARK_LOCAL_DIRS`` already overrides that
    setting, so refuse the one directory outside the work dir;
    ``get_spark`` treats the refusal as "no tmpfs" and carries on."""
    real = os.makedirs
    work = os.path.abspath(work)

    def makedirs(name, *a, **kw):
        if not os.path.abspath(name).startswith(work + os.sep):
            raise PermissionError(name)
        return real(name, *a, **kw)

    os.makedirs = makedirs
    try:
        yield
    finally:
        os.makedirs = real


def start(work: str, cpus: int, spark_local: str):
    from kma_information_retrieval_spark.session import get_spark

    if spark_local == "program":
        return get_spark(master=f"local[{cpus}]")
    with _local_dir_outside_refused(work):
        return get_spark(master=f"local[{cpus}]")


def effective_conf(spark) -> dict:
    keys = (
        "spark.master",
        "spark.driver.memory",
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
    )
    conf = {k: spark.conf.get(k, None) for k in keys}
    # the effective shuffle/spill dirs: SPARK_LOCAL_DIRS wins over the conf
    conf["local_dirs"] = os.environ.get("SPARK_LOCAL_DIRS") or spark.conf.get(
        "spark.local.dir", None)
    return conf


def jvm_gc_s(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())) / 1e3


def stop(spark) -> None:
    """Stop the session and the gateway JVM, and wait until it exits."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # subprocess.TimeoutExpired: the JVM ignored EOF
            proc.kill()
            proc.wait(timeout=30)
