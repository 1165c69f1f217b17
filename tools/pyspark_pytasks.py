"""Counting wrapper around the PySpark worker, used by
``bench_extra.py pytasks`` as ``spark.python.worker.module``.

Spark's worker daemon imports a custom worker module only when its name
starts with ``pyspark``, hence this module's name. Each task invocation
appends ``S <pid>`` to the file named by ``$NTS_PYTASKS_LOG`` when its
first byte arrives and ``E <pid> <cpu_s>`` when it ends; the CPU is the
worker process's own (``time.process_time``), so it includes the fixed
per-task set-up, not only the UDF.
"""

import os
import time

from pyspark.worker import main as _worker_main


def _log(line: str) -> None:
    with open(os.environ["NTS_PYTASKS_LOG"], "a") as f:
        f.write(line + "\n")


def main(infile, outfile):
    # a reused worker calls main as soon as its last task ended and then
    # blocks on the socket: the task starts when its first byte arrives
    infile.peek(1)
    _log(f"S {os.getpid()}")
    cpu0 = time.process_time()
    try:
        _worker_main(infile, outfile)
    finally:
        _log(f"E {os.getpid()} {time.process_time() - cpu0:.6f}")
