"""In-memory tracing of the library, installed from outside it.

``install(tracer)`` replaces library functions with timing wrappers at
the names where the library looks them up (a name imported with
``from x import f`` must be patched in the importing module). Two kinds
of wrapper:

- span wrappers record one span per call: request id, name, parent
  span, start and end (``perf_counter``, which is CLOCK_MONOTONIC and so
  comparable with the load generator's clock in another process);
- per-record wrappers (formatting, parsing, bucket hashing) only add
  their count and time to the current context, so tracing costs two
  clock reads per record rather than a span.

Every record and count lands in a *context*: one HTTP request (opened
by the handler wrapper, tagged with the client's ``X-Bench-Req`` id) or
one bulk operation. While ``tracer.on`` is False the wrappers pass
straight through; request contexts are still opened, flagged
``traced=False``, so the load generator can compare traced and untraced
requests of one run and report the tracing overhead.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict

clock = time.perf_counter


class Context:
    __slots__ = ("req", "kind", "traced", "t0", "t1", "ctr", "stack")

    def __init__(self, req, kind, traced):
        self.req, self.kind, self.traced = req, kind, traced
        self.t0 = clock()
        self.t1 = None
        self.ctr = defaultdict(float)  # "<name>.s" / "<name>.n" / counters
        self.stack = [None]  # open span ids; None = the context root


class Tracer:
    def __init__(self):
        self.on = False
        self.local = threading.local()
        self.lock = threading.Lock()
        self.spans: list[tuple] = []  # (id, parent, req, name, t0, t1)
        self.contexts: list[Context] = []
        self._next = 0

    def current(self) -> Context | None:
        return getattr(self.local, "ctx", None)

    def begin(self, req, kind) -> Context:
        ctx = Context(req, kind, self.on)
        self.local.ctx = ctx
        return ctx

    def end(self, ctx: Context) -> None:
        ctx.t1 = clock()
        self.local.ctx = None
        with self.lock:
            self.contexts.append(ctx)

    def span(self, name, fn):
        def wrapper(*a, **kw):
            ctx = self.current()
            if ctx is None or not ctx.traced:
                return fn(*a, **kw)
            with self.lock:
                sid = self._next
                self._next += 1
            parent = ctx.stack[-1]
            ctx.stack.append(sid)
            t0 = clock()
            try:
                return fn(*a, **kw)
            finally:
                t1 = clock()
                ctx.stack.pop()
                ctx.ctr[name + ".s"] += t1 - t0
                ctx.ctr[name + ".n"] += 1
                with self.lock:
                    self.spans.append((sid, parent, ctx.req, name, t0, t1))

        wrapper.__wrapped__ = fn
        return wrapper

    def per_record(self, name, fn):
        def wrapper(*a, **kw):
            ctx = self.current()
            if ctx is None or not ctx.traced:
                return fn(*a, **kw)
            t0 = clock()
            try:
                return fn(*a, **kw)
            finally:
                ctx.ctr[name + ".s"] += clock() - t0
                ctx.ctr[name + ".n"] += 1

        wrapper.__wrapped__ = fn
        return wrapper

    def count(self, name, n=1) -> None:
        ctx = self.current()
        if ctx is not None and ctx.traced:
            ctx.ctr[name] += n

    def request(self, kind, fn):
        """Handler wrapper: one context per request, id from the header."""

        def wrapper(handler):
            ctx = self.begin(handler.headers.get("X-Bench-Req"), kind)
            try:
                return fn(handler)
            finally:
                self.end(ctx)

        return wrapper

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for sid, parent, req, name, t0, t1 in self.spans:
                f.write(json.dumps({"id": sid, "parent": parent, "req": req,
                                    "name": name, "t0": t0, "t1": t1}) + "\n")
            for c in self.contexts:
                f.write(json.dumps({"context": c.req, "kind": c.kind,
                                    "traced": c.traced, "t0": c.t0, "t1": c.t1,
                                    "ctr": dict(c.ctr)}) + "\n")


def install(tracer: Tracer, handler_cls=None) -> None:
    """Patch the library's lookup sites with the tracer's wrappers."""
    import pyarrow.parquet as pq

    from sonnerie_spark import cli, db, fsutil, pointread, rowformat, serve

    def patch(obj, attr, wrap, name):
        setattr(obj, attr, wrap(name, getattr(obj, attr)))

    # per-record work: formatting, parsing, bucket hashing
    patch(cli, "record_to_line", tracer.per_record, "rowformat.print")
    patch(serve, "parse_line", tracer.per_record, "rowformat.parse")
    patch(rowformat, "parse_line", tracer.per_record, "rowformat.parse")
    patch(pointread, "bucket_of", tracer.per_record, "bucketing.bucket_of")
    patch(db, "bucket_of", tracer.per_record, "bucketing.bucket_of")
    patch(db.Transaction, "add_line", tracer.per_record, "db.tx_add")

    # fsync: time at db's call sites, count every file/dir fsync
    patch(db, "fsync_tree", tracer.span, "fsutil.fsync_tree")
    patch(db, "fsync_dir", tracer.span, "fsutil.fsync_dir")
    for attr in ("fsync_file", "fsync_dir"):
        fn = getattr(fsutil, attr)

        def counted(*a, _fn=fn, **kw):
            tracer.count("fsutil.fsyncs")
            return _fn(*a, **kw)

        setattr(fsutil, attr, counted)

    # db layer spans
    D = db.Database
    get = D.get

    def get_counted(*a, **kw):
        rows = get(*a, **kw)
        tracer.count("pointread.rows_returned", len(rows))
        return rows

    D.get = tracer.span("pointread.get", get_counted)
    for attr, name in [
        ("get_prefix", "pointread.prefix"),
        ("runs", "db.listing"),
        ("run_names", "db.listing"),
        ("delete_markers", "db.listing"),
        ("commit_rows", "db.commit_rows"),
        ("commit_deletes", "db.commit_deletes"),
        ("read", "db.read_plan"),
        ("compact", "db.compact"),
        ("agg_series", "db.agg_series"),
    ]:
        patch(D, attr, tracer.span, name)
    patch(db.Transaction, "commit", tracer.span, "db.tx_commit")

    # footer opens and row-group decodes of the point reader
    class CountingParquetFile(pq.ParquetFile):
        def __init__(self, *a, **kw):
            tracer.count("pointread.footer_opens")
            super().__init__(*a, **kw)

        def read_row_groups(self, row_groups, *a, **kw):
            t = super().read_row_groups(row_groups, *a, **kw)
            tracer.count("pointread.row_groups", len(row_groups))
            tracer.count("pointread.rows_decoded", t.num_rows)
            return t

    class ParquetProxy:
        ParquetFile = CountingParquetFile

        def __getattr__(self, attr):
            return getattr(pq, attr)

    pointread.pq = ParquetProxy()

    if handler_cls is not None:
        handler_cls.do_GET = tracer.request("GET", handler_cls.do_GET)
        handler_cls.do_PUT = tracer.request("PUT", handler_cls.do_PUT)
