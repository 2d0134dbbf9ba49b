"""perfbench/trace.py wraps library functions by name; a rename in the
library must fail here, not silently break every traced benchmark run."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_INSTALL = """
import sys, tempfile
from perfbench.trace import Tracer, install
from sonnerie_spark.db import Database
from sonnerie_spark.serve import make_server

srv = make_server(Database(None, tempfile.mkdtemp(), buckets=2))
try:
    install(Tracer(), srv.RequestHandlerClass)
finally:
    srv.server_close()
"""


def test_perfbench_trace_install_finds_every_hook():
    """``install`` patches db.fsync_tree/fsync_dir/bucket_of, nine
    Database methods, Transaction.add_line/commit, pointread, rowformat,
    cli and the serve handler's do_GET/do_PUT. Run it Spark-free in a
    fresh interpreter (it patches module globals) and require that it
    raises nothing."""
    r = subprocess.run(
        [sys.executable, "-c", _INSTALL],
        cwd=ROOT, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr
