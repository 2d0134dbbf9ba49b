#!/usr/bin/env python3
"""HTTP serve soak: keep-alive connections under churn.

The unit tests pin each framing path alone (test_streaming_serve.py:
pipelining, failed PUT, GET-with-body, HTTP/1.0 fallback, idle timeout);
this soak runs N concurrent clients against one server for many
iterations of MIXED traffic — kept-alive GET streams, PUTs, bad PUTs
(parse errors), GETs carrying bodies, and RANDOM mid-stream aborts — and
then checks the server is still healthy and has released its resources:

- a final GET on a fresh connection returns the complete corpus
  (terminal chunk seen — no truncation);
- the server's handler-thread count returns to its pre-soak baseline
  (every aborted/closed connection released its thread);
- the process file-descriptor count returns to its pre-soak ballpark
  (no leaked sockets/spools; a small tolerance covers allocator noise).

Abort handling is the point: a client that disappears mid-chunked-GET
exercises the BrokenPipe path, one that stops mid-PUT upload exercises
the read-timeout path, and both must drop the connection without
leaking the thread or fd (serve.py's close_connection discipline).

Usage: python tools/soak_serve.py [n_iterations_per_client] [n_clients]
"""

from __future__ import annotations

import os
import random
import socket
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sonnerie_spark.db import Database
from sonnerie_spark.serve import make_server
from sonnerie_spark.session import get_spark


def _fd_count() -> int:
    return len(os.listdir("/proc/self/fd"))


def _recv_until(s: socket.socket, token: bytes, cap: int = 1 << 22) -> bytes:
    buf = b""
    while token not in buf and len(buf) < cap:
        got = s.recv(65536)
        if not got:
            break
        buf += got
    return buf


def _client(host: str, port: int, iters: int, seed: int, errors: list) -> None:
    rng = random.Random(seed)
    try:
        for i in range(iters):
            s = socket.create_connection((host, port), timeout=30)
            try:
                kind = rng.randrange(6)
                if kind == 0:  # healthy kept-alive GET x2 on one socket
                    s.sendall(b"GET /%25 HTTP/1.1\r\nHost: x\r\n\r\n")
                    _recv_until(s, b"0\r\n\r\n")
                    s.sendall(b"GET /soak% HTTP/1.1\r\nHost: x\r\n\r\n")
                    _recv_until(s, b"0\r\n\r\n")
                elif kind == 1:  # PUT a fresh record, then GET it back
                    body = f"soak{seed:03d} {1000 + i} u {i}\n".encode()
                    s.sendall(
                        b"PUT / HTTP/1.1\r\nHost: x\r\nContent-Length: "
                        + str(len(body)).encode() + b"\r\n\r\n" + body
                    )
                    _recv_until(s, b"\r\n\r\n")
                elif kind == 2:  # bad PUT (parse error) -> 400 + close
                    s.sendall(
                        b"PUT / HTTP/1.1\r\nHost: x\r\nContent-Length: 9"
                        b"\r\n\r\nnot a rec"
                    )
                    _recv_until(s, b"\r\n\r\n")
                elif kind == 3:  # GET carrying a body -> answered, closed
                    s.sendall(
                        b"GET /%25 HTTP/1.1\r\nHost: x\r\n"
                        b"Content-Length: 5\r\n\r\nhello"
                    )
                    _recv_until(s, b"HTTP/1.1")
                elif kind == 4:  # ABORT mid-chunked-GET (BrokenPipe path)
                    s.sendall(b"GET /%25 HTTP/1.1\r\nHost: x\r\n\r\n")
                    s.recv(256)  # a taste of the stream, then vanish
                else:  # ABORT mid-PUT upload (unfinished body)
                    s.sendall(
                        b"PUT / HTTP/1.1\r\nHost: x\r\n"
                        b"Content-Length: 1000000\r\n\r\npartial"
                    )
                    # close without sending the rest
            finally:
                try:
                    s.close()
                except OSError:
                    pass
    except Exception as e:  # noqa: BLE001 - report, don't hang the soak
        errors.append(f"client {seed}: {type(e).__name__}: {e}")


def main() -> None:
    iters = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    n_clients = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    spark = get_spark("soak_serve")
    tmp = tempfile.mkdtemp(prefix="soak_serve_")
    db = Database(spark, os.path.join(tmp, "db"))
    db.commit_rows(
        [{"key": f"k{i:03d}", "ts": 1000 + i, "fmt": "u", "v_long": [i],
          "v_double": [], "v_str": [], "v_bin": []} for i in range(200)]
    )
    srv = make_server(db)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    host, port = srv.server_address[:2]

    # Warm-up at full concurrency BEFORE taking the fd baseline: the
    # py4j gateway grows a per-concurrency connection pool on the first
    # parallel PUT burst and keeps it (pool reuse, not a leak) — a
    # cold baseline would misattribute that growth to the server.
    warm_errors: list[str] = []
    warm = [
        threading.Thread(
            target=_client, args=(host, port, 3, 100 + c, warm_errors),
            daemon=True,
        )
        for c in range(n_clients)
    ]
    for c in warm:
        c.start()
    for c in warm:
        c.join(timeout=120)
    # a straggling warm thread would inflate the baselines and mask a
    # real single-connection leak in the main assertions
    assert not any(c.is_alive() for c in warm), "warm-up client hung"
    assert not warm_errors, warm_errors
    time.sleep(3.0)

    base_threads = threading.active_count()
    base_fds = _fd_count()
    errors: list[str] = []
    clients = [
        threading.Thread(
            target=_client, args=(host, port, iters, c, errors), daemon=True
        )
        for c in range(n_clients)
    ]
    t0 = time.time()
    for c in clients:
        c.start()
    for c in clients:
        c.join(timeout=300)
    assert not any(c.is_alive() for c in clients), "client hung"
    assert not errors, errors

    # threads drain: aborted connections die on their next write/read,
    # which can lag the client's close — poll briefly
    deadline = time.time() + 60
    while time.time() < deadline:
        if threading.active_count() <= base_threads:
            break
        time.sleep(1.0)
    threads_after = threading.active_count()
    assert threads_after <= base_threads, (
        f"handler threads leaked: {base_threads} -> {threads_after}"
    )

    # fd discipline: the point reader's caches hold no open files (each
    # read opens and closes its run files), so after one major
    # compaction + one GET the fd count must be back near its base — a
    # read that left a file open, or a handler socket never closed,
    # shows up here.
    fds_grown = _fd_count()
    db.compact(major=True)
    s = socket.create_connection((host, port), timeout=30)
    s.sendall(b"GET /k000 HTTP/1.1\r\nHost: x\r\n\r\n")
    _recv_until(s, b"0\r\n\r\n")
    s.close()
    fds_after = _fd_count()
    assert fds_after <= base_fds + 8, (
        f"fds leaked: base {base_fds}, grown {fds_grown}, "
        f"post-compaction {fds_after}"
    )

    # server still healthy: a complete, terminated chunked stream
    s = socket.create_connection((host, port), timeout=30)
    s.sendall(b"GET /k% HTTP/1.1\r\nHost: x\r\n\r\n")
    buf = _recv_until(s, b"0\r\n\r\n")
    s.close()
    assert buf.count(b"HTTP/1.1 200") == 1 and buf.endswith(b"0\r\n\r\n")
    assert buf.count(b"\tk") == 0  # sanity: records are lines, not tabs-k

    srv.shutdown()
    dur = time.time() - t0
    print(
        f"SOAK OK: {n_clients} clients x {iters} iters in {dur:.1f}s; "
        f"threads {base_threads}->{threads_after}, fds {base_fds}->{fds_after}"
    )


if __name__ == "__main__":
    main()
