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


def test_serve_get_goes_through_the_listing_hooks(tmp_path, monkeypatch):
    """perfbench's ``db.listing`` span wraps ``Database.runs`` and
    ``Database.run_names`` by name. A warm Spark-free GET through the
    serve handler must still list through ``runs()`` (the opening and
    the closing listing of its one read attempt; ``run_names()`` is off
    the read path), or a traced run reads 0 there while the listing's
    time hides in the handler's self time. Likewise perfbench counts
    footer opens and decoded row groups by replacing ``pointread.pq``
    with a proxy, so the GET must open its data files through
    ``pointread.pq.ParquetFile``: here one file per run, the key's
    bucket file."""
    import http.client
    import threading

    import pyarrow.parquet as pq

    from sonnerie_spark import pointread
    from sonnerie_spark.db import Database
    from sonnerie_spark.serve import make_server

    db = Database(None, str(tmp_path / "db"), buckets=2, durable=False)
    for ts in (1000, 2000):
        db.commit_rows(
            [{"key": "k", "ts": ts, "fmt": "u", "v_long": [ts],
              "v_double": [], "v_str": [], "v_bin": []}]
        )
    calls = {"runs": 0, "run_names": 0}
    for name in calls:
        real = getattr(Database, name)

        def counted(self, _real=real, _name=name):
            calls[_name] += 1
            return _real(self)

        monkeypatch.setattr(Database, name, counted)
    opened = []

    class CountingParquetFile(pq.ParquetFile):
        def __init__(self, source, *a, **kw):
            opened.append(source)
            super().__init__(source, *a, **kw)

    class ParquetProxy:
        ParquetFile = CountingParquetFile

        def __getattr__(self, attr):
            return getattr(pq, attr)

    monkeypatch.setattr(pointread, "pq", ParquetProxy())
    srv = make_server(db)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    c = http.client.HTTPConnection("127.0.0.1", srv.server_address[1], timeout=30)
    try:
        for _ in range(2):  # cold, then warm
            calls.update(runs=0, run_names=0)
            del opened[:]
            c.request("GET", "/k")
            r = c.getresponse()
            assert (r.status, r.read()) == (200, b"k\t1000\t1000\nk\t2000\t2000\n")
        assert calls == {"runs": 2, "run_names": 0}
        runs = db.runs()
        assert len(runs) == 2 and all(len(r.files) == 1 for r in runs)
        assert sorted(opened) == sorted(os.path.join(r.path, r.files[0]) for r in runs)
    finally:
        c.close()
        srv.shutdown()
        srv.server_close()
