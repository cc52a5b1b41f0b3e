"""PySpark daemon that writes one cProfile file per Python-worker invocation
(one invocation is one task in a worker process).

Started by Spark when ``spark.python.daemon.module=scripts.profile_worker``;
``scripts/profile_queries.py --profile-workers DIR`` sets that up and names
the output directory in ``PROFILE_WORKERS_DIR``. Files are named
``worker-<pid>-<n>.prof``; read them with ``pstats``.
"""

import cProfile
import itertools
import os

from pyspark import daemon

_OUT = os.environ["PROFILE_WORKERS_DIR"]
_stock_main = daemon.worker_main
_invocation = itertools.count()


def profiled_main(infile, outfile):
    prof = cProfile.Profile()
    try:
        prof.runcall(_stock_main, infile, outfile)
    finally:
        # written under a temporary name, so a worker killed while writing
        # leaves no truncated .prof file behind
        path = os.path.join(_OUT, f"worker-{os.getpid()}-{next(_invocation)}.prof")
        prof.dump_stats(path + ".part")
        os.replace(path + ".part", path)


daemon.worker_main = profiled_main

if __name__ == "__main__":
    daemon.manager()
