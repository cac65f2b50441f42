"""One SparkSession per benchmark process, sized to this machine and kept
inside the checkout.

The engine's ``get_spark`` defaults (``local[32]``, an 8 GiB driver) were
set for a 32-core box; the benchmark runs at ``local[min(nproc, 4)]`` with a
4 GiB driver heap. Spark's scratch space, the JVM's and Python's temp
directories (the seen set's Bloom files default to ``tempfile``) all point
under ``perfbench/.work``, so a run writes nothing outside its checkout.
"""

from __future__ import annotations

import os
import sys
import tempfile

from corpus import BENCH_DIR, ROOT, WORK

CORES = min(os.cpu_count() or 1, 4)
DRIVER_MEM = "4g"
TMP = os.path.join(WORK, "tmp")


def start_session():
    """Point every temp directory into the checkout, then start the engine's
    session at ``local[CORES]``. Call once per process: a stopped session
    followed by a new one breaks the Python accumulator channel."""
    local = os.path.join(WORK, "spark-local")
    for d in (TMP, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    tempfile.tempdir = TMP
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers unpickle the engine's UDFs and the benchmark's
    # tracing wrappers by module name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, BENCH_DIR] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    # The engine turns on Unix-domain sockets for the Python side channels;
    # a socket path must fit in 107 bytes, which an absolute path under a
    # deep checkout does not. Sockets go to a path relative to the checkout
    # root, which every process of the run shares as its working directory.
    os.chdir(ROOT)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={TMP} -XX:-UsePerfData' "
        f"--conf spark.python.unix.domain.socket.dir={os.path.relpath(TMP, ROOT)} "
        "pyspark-shell"
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from eget_crawler_for_overflow_spark.session import get_spark

    spark = get_spark(master=f"local[{CORES}]", shuffle_partitions=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM (it exits when its stdin
    closes, taking the Python worker daemon with it) and wait for it."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)
