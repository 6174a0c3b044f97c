"""Spark Python daemon for traced runs (`spark.python.daemon.module`).

It wraps the program's worker-side layer functions with spans
(tracing.WORKER_CALLS), then hands off to `pyspark.daemon`. Workers
fork from this process, so they inherit the wrappers. After each task
a worker appends its span sums to `$PERFBENCH_TRACE_DIR` and clears
them; the daemon kills idle workers without notice, so "after the
task" is the last point a worker is sure to reach.
"""

import os

import pyspark.daemon as daemon

from perfbench import tracing

_run_task = daemon.worker


def worker(sock, authenticated):
    try:
        return _run_task(sock, authenticated)
    finally:
        tracing.WORKER.flush(os.environ["PERFBENCH_TRACE_DIR"])


if __name__ == "__main__":
    tracing.install_worker_spans()
    daemon.worker = worker
    daemon.manager()
