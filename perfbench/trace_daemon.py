"""Python worker daemon for traced runs (``spark.python.daemon.module``).

Installs ``perfbench.probes`` in the daemon before it forks workers, then
runs PySpark's own daemon loop. After every task a worker writes its
cumulative probe totals to ``$PERFBENCH_PROBE_DIR/<pid>.json``.
"""

import os

import pyspark.daemon as daemon

from perfbench import probes

_STATS = probes.install()
_PROBE_DIR = os.environ["PERFBENCH_PROBE_DIR"]
_worker_main = daemon.worker_main


def _traced_main(infile, outfile):
    try:
        return _worker_main(infile, outfile)
    finally:
        _STATS.flush(os.path.join(_PROBE_DIR, f"{os.getpid()}.json"))


daemon.worker_main = _traced_main

if __name__ == "__main__":
    daemon.manager()
