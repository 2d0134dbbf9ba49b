"""HTTP front-end: the reference's ``sonnerie-serve`` surface (O21).

- ``GET /{key-or-wildcard}[?human]`` streams matching records as text
  lines, (key, ts)-sorted; ``human`` switches nanosecond timestamps to
  ``%F %T`` (sonnerie-serve.rs:206-300).
- ``PUT /`` ingests text-protocol lines — **unsorted input is fine**
  (the commit path shuffle-sorts; the reference external-sorts per
  request, sonnerie-serve.rs:114-186) — and commits exactly ONE
  transaction per request; readers see the data only after the atomic
  commit (README.md:31-35).

GET path: an exact key or a pure prefix (``fib%``) is answered without
Spark and stays columnar from the row group to the socket —
``Database.get_table`` returns one Arrow table, already merged
(last writer wins, delete markers applied), and
``rowformat.format_table`` renders it per column into the response body.
Any other wildcard, or a prefix matching more than the point reader's
row-group budget, streams the Spark plan's rows through
``cli.record_to_line``, one line each.

The reference keeps a 10-s-TTL cached ``DatabaseReader`` to amortize
readdir+mmap (sonnerie-serve.rs:239-265). No analogous cache exists
here ON PURPOSE: the run listing still runs on every GET, inside the
point read's bracket or ``Database.read``. Only immutable per-run
metadata is cached, on the ``RunInfo`` that ``Database.runs()`` hands
back while the run directory is the same incarnation: its bucket
count, Parquet footer statistics and parsed delete markers. A
committed write is visible to the very next GET — there is no
staleness window to tune.

Sockets: every accepted connection sets ``TCP_NODELAY``. A response
goes out in several ``send`` calls (status + headers, then the body
chunks); with Nagle's algorithm on, the second small segment waits for
the client's delayed ACK — ~40 ms on Linux, on every GET and PUT of a
kept-alive connection, more than the whole point read costs.

Threading: http.server's ThreadingHTTPServer drives Spark jobs from
handler threads — Spark sessions are thread-safe for concurrent actions
(scheduler pools share the local executor).
"""

from __future__ import annotations

import re
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import unquote, urlparse

# RFC 9112 chunk-size: hex digits only (int(tok, 16) alone would also
# accept '+'/'-', whitespace, and Python underscore separators)
_HEXDIGITS = re.compile(rb"[0-9A-Fa-f]+")

from sonnerie_spark.db import Database
from sonnerie_spark.rowformat import format_table, parse_line


# PUT bodies above this many bytes are spooled to disk and committed
# through the Spark shuffle-sort instead of a driver-resident Python
# sort — the analogue of the reference's shardio external sort, which
# exists precisely so an arbitrarily large PUT never needs request-sized
# memory (sonnerie-serve.rs:114-157).
PUT_SPOOL_THRESHOLD = 4 * 1024 * 1024


def make_server(
    db: Database,
    host: str = "127.0.0.1",
    port: int = 0,
    *,
    put_spool_threshold: int = PUT_SPOOL_THRESHOLD,
) -> ThreadingHTTPServer:
    """Build (not start) the HTTP server; ``server_address[1]`` is the
    bound port (use port=0 for an ephemeral one in tests)."""
    class Handler(BaseHTTPRequestHandler):
        # HTTP/1.1 with persistent connections — reference parity: the
        # hyper front-end keeps connections open by default
        # (sonnerie-serve.rs:34-96). Every response below therefore
        # self-frames (Content-Length or chunked); an unframed body
        # under 1.1 would stall the client, not just waste a socket.
        protocol_version = "HTTP/1.1"
        # TCP_NODELAY on each accepted socket (module docstring: the
        # headers/body writes would otherwise wait out a delayed ACK)
        disable_nagle_algorithm = True
        # Idle keep-alive bound: without it, every abandoned persistent
        # connection pins a handler thread + fd forever (readline blocks
        # indefinitely). The stdlib turns the socket timeout into a
        # closed connection. INTENDED SEMANTICS: a socket timeout bounds
        # each blocking recv/send individually, not the whole transfer —
        # so this drops a peer that makes ZERO progress for 120 s
        # (idle between requests, or stalled mid-GET/mid-PUT with a full
        # TCP window), while an arbitrarily slow-but-moving client is
        # never cut: every write unblocks as soon as the peer drains
        # some bytes.
        timeout = 120

        def log_message(self, *a):  # quiet
            pass

        def _request_has_unread_body(self) -> bool:
            """Does this request carry a body we will not read? Unread
            bytes left on a kept-alive socket misframe the NEXT request
            — so every response to such a request (200 or error alike)
            must close the connection after answering."""
            try:
                return bool(self.headers.get("Transfer-Encoding")) or (
                    int(self.headers.get("Content-Length") or 0) > 0
                )
            except ValueError:
                return True  # malformed length: assume unread bytes

        def _streaming_ok(self) -> bool:
            """May this request's 200 stream chunked on a kept-alive
            connection? False forces close-delimited output + close:
            (a) a non-1.1 client cannot parse chunked framing
            (RFC 9112 §6.1); (b) a GET that CARRIES a body we will not
            read would misframe the next request — same hazard as a
            failed PUT, so answer it but drop the connection after."""
            if self.request_version != "HTTP/1.1":
                self.close_connection = True
                return False
            if self._request_has_unread_body():
                self.close_connection = True
                return False
            return True

        def _send_plain(self, status: int, body: bytes, *, close=False):
            """One self-framed plain-text response. ``close=True`` also
            advertises Connection: close (set close_connection BEFORE
            the headers go out so the client is not left waiting on a
            socket we are about to drop)."""
            if close:
                self.close_connection = True
            self.send_response(status)
            self.send_header("Content-Type", "text/plain; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            if self.close_connection:
                self.send_header("Connection", "close")
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            from sonnerie_spark.cli import record_to_line

            url = urlparse(self.path)
            pattern = unquote(url.path.lstrip("/")) or "%"
            human = "human" in (url.query or "")
            headers_sent = False
            ts_style = "%F %T" if human else "nanos"
            try:
                # Exact-key and pure-prefix GETs: driver-side pyarrow
                # read, formatted per column — no Spark job on the
                # latency-critical path (the reference's ~15 ms lookup,
                # README.md:277-278). None -> the Spark plan.
                tbl = db.get_table(pattern)
                if tbl is not None:
                    body = format_table(tbl, ts_style=ts_style)
                    lines = ()
                else:
                    body = b""
                    lines = db.read_sorted(wildcard=pattern).toLocalIterator(
                        prefetchPartitions=True
                    )
                chunked_out = self._streaming_ok()
                self.send_response(200)
                self.send_header("Content-Type", "text/plain; charset=utf-8")
                if chunked_out:
                    # Streamed body of unknown length + keep-alive =>
                    # chunked framing (the only HTTP/1.1 way to stream
                    # AND reuse the connection; a mid-stream failure
                    # drops the socket without the terminal chunk, so
                    # truncation is DETECTABLE to the client — strictly
                    # better than a close-delimited body).
                    self.send_header("Transfer-Encoding", "chunked")
                else:
                    # non-1.1 client or a request carrying a body we
                    # will not read: close-delimited stream, then drop
                    self.send_header("Connection", "close")
                self.end_headers()
                headers_sent = True
                self._write_body(body, chunked_out)
                buf = bytearray()
                for row in lines:
                    line = record_to_line(row, ts_style=ts_style, show_fmt=False)
                    buf += line.encode() + b"\n"
                    if len(buf) >= 64 * 1024:
                        self._write_body(bytes(buf), chunked_out)
                        buf.clear()
                self._write_body(bytes(buf), chunked_out)
                if chunked_out:
                    self.wfile.write(b"0\r\n\r\n")  # terminal chunk
            except BrokenPipeError:
                # client died mid-stream: nothing more can be framed on
                # this socket — leave the keep-alive loop instead of
                # readline()ing a dead connection (a peer RST there
                # raises ConnectionResetError outside our handler)
                self.close_connection = True
            except Exception as e:
                if headers_sent:
                    # 200 + headers already on the wire: a second status
                    # line would corrupt the body — drop the connection
                    # WITHOUT the terminal chunk so the client sees a
                    # hard-truncated chunked stream, not a clean end.
                    self.close_connection = True
                else:  # surface engine errors as 500 text — but a GET
                    # carrying a body we never read must still close
                    # (the success path gets this via _streaming_ok;
                    # without it here, the 500 left the body bytes on a
                    # kept-alive socket, misframing the next request)
                    self._send_plain(
                        500,
                        str(e).encode(),
                        close=self._request_has_unread_body(),
                    )

        def _write_body(self, data: bytes, chunked: bool) -> None:
            """One piece of a streamed body; an empty piece writes
            nothing (a zero-size chunk would end a chunked body)."""
            if data:
                self.wfile.write(b"%x\r\n%s\r\n" % (len(data), data) if chunked else data)

        def _commit_spooled(self, write_body) -> None:
            """Spooled-PUT path: body -> disk spool -> distributed parse
            -> one shuffle-sorted transaction. Driver memory stays
            bounded by the copy buffer; the sort that the reference does
            with an external-sort library is Spark's own range-partition
            + sort inside ``commit_dataframe``. Duplicate (key, ts)
            within the request is still an error (write.rs:181-197
            rule). ``write_body(f)`` copies the request body into the
            spool file — identity or de-chunked framing."""
            import os

            from sonnerie_spark.fsutil import OwnedDir
            from sonnerie_spark.streaming.ingest import parse_lines

            # an owned dir: the database janitor never reaps a tmp dir
            # whose creator still holds its lock (fsutil "Own")
            with OwnedDir(db.path, ".tmp-put-") as spool:
                with open(os.path.join(spool.path, "body.txt"), "wb") as f:
                    write_body(f)
                rows = parse_lines(db.spark.read.text(spool.path))
                if rows.take(1):
                    db.commit_dataframe(rows)

        def _copy_identity(self, f, length: int) -> None:
            remaining = length
            while remaining > 0:
                chunk = self.rfile.read(min(1 << 20, remaining))
                if not chunk:
                    raise OSError("short PUT body")
                f.write(chunk)
                remaining -= len(chunk)

        def _copy_dechunked(self, f) -> None:
            """RFC 9112 §7.1 chunked framing -> plain bytes. The
            reference's hyper server de-chunks transparently
            (sonnerie-serve.rs PUT body stream), so streaming clients
            that cannot know their length up front must work here too.
            Strict CRLF framing: anything malformed raises (-> 400 +
            connection close; resynchronizing a broken chunk stream is
            not possible)."""
            while True:
                szline = self.rfile.readline(64 + 2)
                if not szline:
                    raise OSError("truncated chunked body")
                if not szline.endswith(b"\n"):
                    # readline hit the 66-byte cap mid-line: a longer
                    # chunk-extension line would leave its tail in the
                    # stream and misframe everything after — refuse
                    # rather than guess (extensions this long do not
                    # occur in practice; RFC 9112 lets a server fail
                    # them)
                    raise ValueError("oversized chunk-size line")
                tok = szline.split(b";", 1)[0].rstrip(b"\r\n")
                # int(tok, 16) alone accepts non-RFC forms — '+1f',
                # '-2', '1_0' (Python underscore = 0x10!), inner
                # whitespace — and a negative size would skip the data
                # loop and misframe. RFC 9112 chunk-size is hex digits
                # ONLY; validate before parsing.
                if not tok or not _HEXDIGITS.fullmatch(tok):
                    raise ValueError("malformed chunk size")
                size = int(tok, 16)
                if size == 0:
                    # consume trailer section up to the blank line
                    while True:
                        t = self.rfile.readline(1 << 16)
                        if t == b"":
                            # EOF mid-trailer: the terminator never
                            # arrived — same truncation as a torn
                            # chunk, NOT a clean end of body
                            raise OSError("truncated chunked body")
                        if t in (b"\r\n", b"\n"):
                            return
                    # not reached
                remaining = size
                while remaining > 0:
                    chunk = self.rfile.read(min(1 << 20, remaining))
                    if not chunk:
                        raise OSError("truncated chunk")
                    f.write(chunk)
                    remaining -= len(chunk)
                if self.rfile.read(2) != b"\r\n":
                    raise ValueError("bad chunk terminator")

        def do_PUT(self):
            # Framing first: a body we will not read corrupts keep-alive
            # (its bytes parse as the next request line), and a silent
            # zero-length read would 201 a client whose records were
            # never durable. Chunked bodies are DE-CHUNKED to the spool
            # (reference parity: hyper does this transparently,
            # sonnerie-serve.rs:164-203); otherwise a missing length is
            # 411 and a malformed one is 400, both dropping the
            # connection.
            te = (self.headers.get("Transfer-Encoding") or "").lower()
            cl = self.headers.get("Content-Length")
            chunked = "chunked" in te
            length = 0
            if not chunked:
                if cl is None:
                    self._send_plain(
                        411, b"Content-Length required", close=True
                    )
                    return
                try:
                    length = int(cl)
                    if length < 0:
                        raise ValueError(cl)
                except ValueError:
                    self._send_plain(
                        400, b"malformed Content-Length", close=True
                    )
                    return
            try:
                if chunked:
                    # length unknown up front -> always via the spool
                    self._commit_spooled(self._copy_dechunked)
                elif length > put_spool_threshold:
                    self._commit_spooled(
                        lambda f: self._copy_identity(f, length)
                    )
                else:
                    body = self.rfile.read(length).decode()
                    rows = [
                        parse_line(line).as_row()
                        for line in body.splitlines()
                        if line.strip()
                    ]
                    if rows:
                        db.commit_rows(rows)
                # 201 + "ok", like the reference (sonnerie-serve.rs:193-203)
                self._send_plain(201, b"ok")
            except Exception as e:
                # a failed PUT can leave body bytes unread (framing
                # errors, short bodies) — the next keep-alive request
                # would parse them as its request line, so drop
                self._send_plain(400, str(e).encode(), close=True)

        def _bad_method(self):
            # any non-GET/PUT is a 400, as in sonnerie-serve.rs:91-96.
            # close: the unsupported method may carry a body we will
            # not read (same misframe hazard as a failed PUT)
            self._send_plain(400, b"bad method", close=True)

        do_POST = do_DELETE = do_PATCH = do_HEAD = _bad_method

    return ThreadingHTTPServer((host, port), Handler)


def serve_forever(db: Database, host: str = "127.0.0.1", port: int = 8409) -> None:
    make_server(db, host, port).serve_forever()
