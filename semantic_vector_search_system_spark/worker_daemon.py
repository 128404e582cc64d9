"""Python-worker daemon with the scientific stack preloaded.

Spark forks one python worker per task from the daemon process and (in
Spark 4 local mode, measured) does NOT reuse workers across jobs — so every
Arrow/Pandas-UDF task pays the full ``import pandas/pyarrow/numpy`` cost
(~0.15-0.2 s here) before its first byte of real work. The daemon is the
fork PARENT, so anything imported here is inherited copy-on-write by every
worker for free.

Wiring (session.py): ``spark.python.daemon.module = <this module>``; the
module must be importable by the worker interpreter (session.py prepends
the package parent to PYTHONPATH before the JVM starts). Launch-compatible
with ``pyspark.daemon``: importing it resolves the optional worker-module
argv exactly like the stock daemon, then ``manager()`` runs the normal
accept/fork loop — no behavioral change beyond the warm imports.
"""

import os

# Heavy imports FIRST — these are what each forked worker inherits.
import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401

# The worker main itself (pulls in pyspark.sql serializers, Arrow stream
# readers, cloudpickle) — importing it here means the fork child only has
# to run the task loop.
import pyspark.worker  # noqa: F401

# The shared numpy kernels the BLAS faces' pickled closures reference by
# module (normalize_rows, topn_sel): inherited here, a forked worker
# unpickles them without importing the package (~2 ms per task).
import semantic_vector_search_system_spark.functions.vectors  # noqa: F401

# pyspark.daemon reads sys.argv at import time to pick the worker module
# (defaults to pyspark.worker), identically to being launched directly.
import pyspark.daemon as _daemon
from pyspark.daemon import manager

# -- Quiet shutdown ----------------------------------------------------------
# When the JVM tears down (spark.stop()), workers mid-handshake or mid-batch
# see their socket close and raise BrokenPipeError.  Two amplifiers make this
# LOUD in Spark 4.1: (a) daemon.py:89 reads
# PYTHON_DAEMON_KILL_WORKER_ON_FLUSH_FAILURE with `os.environ.get(..., False)`
# and the JVM sets it to the STRING "false", which is truthy, so the guarded
# `raise` re-raises the flush EPIPE instead of printing one line; (b) the
# re-raised exception escapes worker() into the forked child of manager(),
# printing a full traceback per worker — with 32+ workers this flooded the
# driver's finite stderr tail and buried bench.py's metric line (BENCH_r04
# parsed:null).  Fix both: drop the mis-parsed env var, and wrap worker() so
# a connection-teardown error is a normal exit, not a traceback.  Real task
# errors are unaffected — they are serialized back to the JVM by
# pyspark.worker long before this wrapper sees anything.
os.environ.pop("PYTHON_DAEMON_KILL_WORKER_ON_FLUSH_FAILURE", None)

_stock_worker = _daemon.worker

# Both patches below (the worker wrapper and the print shadow) assume the
# pyspark 4.1 daemon internals: daemon.py's `worker(sock, authenticated)`
# signature, its finally-flush handler, and the exact message string
# "failed to flush the output".  tests/test_worker_daemon.py pins the
# installed pyspark version to the 4.1 line so an upgrade that changes the
# daemon's wording/flow fails a test instead of silently disabling the
# patches.
EXPECTED_PYSPARK_MAJOR_MINOR = (4, 1)

_FLUSH_LOG = os.environ.get(
    "SPARK_GRAFT_DAEMON_FLUSH_LOG", "/tmp/sivbp_daemon_flush_failures.log"
)


def _log_side_channel(msg: str) -> None:
    try:
        with open(_FLUSH_LOG, "a") as f:
            f.write(f"[pid {os.getpid()}] {msg}\n")
    except OSError:
        pass


def _quiet_worker(sock, authenticated):
    try:
        return _stock_worker(sock, authenticated)
    except (BrokenPipeError, ConnectionResetError, EOFError) as exc:
        # Peer (JVM) closed the channel.  Almost always spark.stop() teardown,
        # but this wrapper cannot distinguish that from a genuine mid-job
        # channel failure — so leave python-side evidence in the side-channel
        # log before exiting 0.  (Real task errors are serialized back to the
        # JVM by pyspark.worker long before this wrapper sees anything; the
        # JVM also reports its half of a genuinely broken stream loudly.)
        _log_side_channel(f"worker connection error (teardown?): {exc!r}")
        return 0


_daemon.worker = _quiet_worker  # manager() resolves the global at call time

# With the env var gone, daemon.py's finally-flush handler takes its benign
# branch — but that branch still PRINTS a "failed to flush the output"
# traceback block per worker (32 blocks per spark.stop() at local[32]).
# Shadow `print` in the daemon module's namespace with a filter that
# REDIRECTS exactly that message to a side-channel log instead of stderr —
# shutdown noise stays out of the driver's output tail, but a genuine
# mid-job flush failure still leaves python-side evidence for debugging
# (the JVM side reports its half of the broken stream loudly regardless).
# All other daemon prints pass through untouched.
_stock_print = print


def _daemon_print(*args, **kwargs):
    if args and isinstance(args[0], str) and "failed to flush the output" in args[0]:
        _log_side_channel(args[0])
        return
    _stock_print(*args, **kwargs)


_daemon.print = _daemon_print

if __name__ == "__main__":
    manager()
