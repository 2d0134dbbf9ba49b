"""Streaming ingest (micro-batch == transaction) and HTTP serve tests
(sonnerie-serve semantics: unsorted PUT, committed-only reads)."""

import threading
import urllib.request

import pytest

from sonnerie_spark.db import Database
from sonnerie_spark.serve import make_server
from sonnerie_spark.streaming.ingest import (
    parse_lines,
    session_windows,
    stream_text_ingest,
    windowed_counts,
)


@pytest.fixture()
def db(spark, tmp_path):
    return Database(spark, str(tmp_path / "db"))


def test_parse_lines_batch(spark, db):
    lines = spark.createDataFrame([("k 1000 u 5",), ("k 2000 u 6",)], "value string")
    rows = parse_lines(lines).collect()
    assert [(r.key, r.ts, r.v_long[0]) for r in rows] == [("k", 1000, 5), ("k", 2000, 6)]


def test_stream_ingest_commits_transactions(spark, db, tmp_path):
    inp = tmp_path / "incoming"
    inp.mkdir()
    (inp / "batch1.txt").write_text("a 1000 u 1\nb 1000 u 2\n")
    q = stream_text_ingest(
        spark, db, str(inp), checkpoint_dir=str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    try:
        q.processAllAvailable()
        assert db.read().count() == 2
        # a second file becomes a second transaction; LWW applies
        (inp / "batch2.txt").write_text("a 1000 u 9\nc 1000 u 3\n")
        q.processAllAvailable()
        rows = {r.key: r.v_long[0] for r in db.read().collect()}
        assert rows == {"a": 9, "b": 2, "c": 3}
        assert len(db.data_runs()) == 2
    finally:
        q.stop()


def test_stream_ingest_blank_lines_batch_commits_empty_run(spark, db, tmp_path):
    """A micro-batch of only blank lines commits an EMPTY run (the
    emptiness probe reads raw lines, not the parsed frame — a parsed
    probe would double the parse cost of every batch). This pins the
    'supported everywhere' claim: reads, changes(), tail, and rollup
    refresh must all work across the empty run, and compaction sweeps
    it."""
    from sonnerie_spark.streaming.rollup import ContinuousRollup

    inp = tmp_path / "incoming"
    inp.mkdir()
    (inp / "b1.txt").write_text("a 1000 u 1\n")
    q = stream_text_ingest(
        spark, db, str(inp),
        checkpoint_dir=str(tmp_path / "ckpt"), max_files_per_trigger=1,
    )
    try:
        q.processAllAvailable()
        (inp / "b2.txt").write_text("\n\n\n")  # blank-only batch
        q.processAllAvailable()
        (inp / "b3.txt").write_text("b 2000 u 2\n")
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(db.data_runs()) == 3  # the empty run IS committed
    rows = {r.key: r.v_long[0] for r in db.read().collect()}
    assert rows == {"a": 1, "b": 2}
    # changes() across the empty run
    empty_tx = db.data_runs()[1].name
    assert db.changes(since=empty_tx).count() == 1
    # rollup refresh across the empty run
    ru = ContinuousRollup(db, str(tmp_path / "ru"), interval_ns=3600 * 10**9)
    ru.refresh()
    assert ru.read().count() >= 1
    # compaction sweeps it away
    db.compact(major=True)
    assert len(db.data_runs()) == 1
    assert {r.key: r.v_long[0] for r in db.read().collect()} == rows


def test_windowed_counts_batch_semantics(spark, db):
    tx = db.create_tx()
    h = 3600 * 10**9
    for i, ts in enumerate([0, h // 2, h, 2 * h]):
        tx.add_record("k", ts + i, "u", [i])
    tx.commit()
    out = windowed_counts(db.read(), window="1 hour")
    got = {(r.key, r.window_start.isoformat()): r.n for r in out.collect()}
    assert got == {
        ("k", "1970-01-01T00:00:00"): 2,
        ("k", "1970-01-01T01:00:00"): 1,
        ("k", "1970-01-01T02:00:00"): 1,
    }


def test_session_windows_batch_semantics(spark, db):
    tx = db.create_tx()
    m = 60 * 10**9  # one minute in ns
    # key k: two bursts separated by >30min; key j: one record
    for ts in [0, 5 * m, 10 * m, 60 * m, 62 * m]:
        tx.add_record("k", ts, "u", [1])
    tx.add_record("j", 0, "u", [2])
    tx.commit()
    out = session_windows(db.read(), gap="30 minutes")
    got = {
        (r.key, r.session_start.isoformat(), r.session_end.isoformat()): r.n
        for r in out.collect()
    }
    assert got == {
        ("k", "1970-01-01T00:00:00", "1970-01-01T00:40:00"): 3,
        ("k", "1970-01-01T01:00:00", "1970-01-01T01:32:00"): 2,
        ("j", "1970-01-01T00:00:00", "1970-01-01T00:30:00"): 1,
    }


@pytest.fixture()
def server(db):
    srv = make_server(db)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _put(base, body: str):
    req = urllib.request.Request(base + "/", data=body.encode(), method="PUT")
    return urllib.request.urlopen(req)


def test_serve_put_get_roundtrip(server, db):
    # unsorted PUT is accepted and becomes one transaction
    resp = _put(server, "b 2000 u 2\na 1000 u 1\n")
    assert resp.status == 201  # reference returns 201 "ok"
    assert resp.read() == b"ok"
    assert len(db.data_runs()) == 1
    out = urllib.request.urlopen(server + "/%25").read().decode()
    assert out.splitlines() == ["a\t1000\t1", "b\t2000\t2"]
    # wildcard + human timestamps
    out2 = urllib.request.urlopen(server + "/a%25?human").read().decode()
    assert out2.splitlines() == ["a\t1970-01-01 00:00:00\t1"]


def test_serve_put_parse_error_is_400(server, db):
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as ei:
        _put(server, "not-a-valid-line\n")
    assert ei.value.code == 400
    assert db.read().count() == 0


def test_serve_put_duplicate_key_ts_is_400(server, db):
    """Duplicate (key, ts) within one PUT request is rejected — the
    reference's writer errors on non-increasing ts per key after the
    external sort (write.rs:181-197)."""
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as ei:
        _put(server, "k 1000 u 1\nk 1000 u 2\n")
    assert ei.value.code == 400
    assert db.read().count() == 0


def test_serve_put_spooled_large_body(db):
    """A PUT body over the spool threshold never lives in driver memory:
    it streams to a disk spool and commits through the distributed parse
    + shuffle-sort (the reference's external-sort design point,
    sonnerie-serve.rs:114-157). Exactly ONE transaction; reads see every
    record; unsorted input and in-request duplicates behave like the
    small path."""
    import os
    import urllib.error

    srv = make_server(db, put_spool_threshold=1024)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        # ~30 KiB unsorted body, well over the 1 KiB test threshold
        body = "".join(f"k{i % 7} {1000 + i * 7} u {i}\n" for i in reversed(range(1500)))
        resp = _put(base, body)
        assert resp.status == 201
        assert len(db.data_runs()) == 1  # exactly one transaction
        assert db.read().count() == 1500
        got = [(r.key, r.ts) for r in db.read_sorted(key="k0").collect()]
        assert got == sorted((f"k{i % 7}", 1000 + i * 7) for i in range(1500) if i % 7 == 0)
        # spool cleaned up
        assert not [n for n in os.listdir(db.path) if n.startswith(".tmp-put")]
        # duplicate (key, ts) within a spooled request is still a 400
        dup = "x 1000 u 1\n" * 2 + "".join(f"y {i} u 0\n" for i in range(400))
        with pytest.raises(urllib.error.HTTPError) as ei:
            _put(base, dup)
        assert ei.value.code == 400
        assert db.read().count() == 1500  # nothing extra committed
    finally:
        srv.shutdown()


def test_serve_rejects_other_methods(server):
    import urllib.error
    import urllib.request

    req = urllib.request.Request(server + "/", data=b"x", method="POST")
    try:
        urllib.request.urlopen(req)
        raise AssertionError("POST accepted")
    except urllib.error.HTTPError as e:
        assert e.code == 400  # sonnerie-serve.rs:91-96


def test_stream_dedup_exact_across_batches(spark, tmp_path):
    """Cross-micro-batch exact dedup: a content digest seen in batch 1
    suppresses the same content arriving in batch 2 — state lives in the
    state store, not in any single batch."""
    import json

    from sonnerie_spark.streaming.ingest import stream_dedup_exact

    inp = tmp_path / "docs"
    inp.mkdir()
    out = []

    def collect_batch(batch_df, batch_id):
        out.extend((r.doc_id, r.text) for r in batch_df.collect())

    (inp / "b1.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"doc_id": 1, "text": "alpha"},
                {"doc_id": 2, "text": "beta"},
                {"doc_id": 3, "text": "alpha"},  # in-batch dup
            ]
        )
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(inp))
    )
    q = (
        stream_dedup_exact(stream)
        .writeStream.foreachBatch(collect_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        assert sorted(t for _, t in out) == ["alpha", "beta"]
        (inp / "b2.json").write_text(
            "\n".join(
                json.dumps(d)
                for d in [
                    {"doc_id": 4, "text": "alpha"},  # cross-batch dup: dropped
                    {"doc_id": 5, "text": "gamma"},
                ]
            )
        )
        q.processAllAvailable()
        assert sorted(t for _, t in out) == ["alpha", "beta", "gamma"]
    finally:
        q.stop()


def test_serve_put_framing_guards(server, db):
    """A PUT whose body length the server cannot know is refused with
    the precise status, never silently committed as zero rows with a
    201: a missing Content-Length gets 411, a malformed one gets 400,
    and both drop the connection (an unread body would parse as the
    next request line on keep-alive)."""
    import http.client
    from urllib.parse import urlparse

    host = urlparse(server).netloc
    # no Content-Length at all -> 411
    c = http.client.HTTPConnection(host, timeout=10)
    c.putrequest("PUT", "/", skip_accept_encoding=True)
    c.endheaders()
    r = c.getresponse()
    assert r.status == 411
    c.close()
    # malformed Content-Length values -> 400, not an aborted connection
    for bad in ("banana", "-5", "1e3"):
        c = http.client.HTTPConnection(host, timeout=10)
        c.putrequest("PUT", "/", skip_accept_encoding=True)
        c.putheader("Content-Length", bad)
        c.endheaders()
        r = c.getresponse()
        assert r.status == 400, bad
        c.close()
    assert db.read().count() == 0  # nothing was committed either way


def test_serve_put_chunked_dechunks(server, db):
    """Chunked transfer-encoding is DE-CHUNKED to the spool and
    committed — reference parity: sonnerie-serve is hyper-based and
    accepts chunked PUT bodies transparently, so streaming clients
    that cannot know their length up front must ingest here too. The
    chunk boundary deliberately splits a record line."""
    import http.client
    from urllib.parse import urlparse

    host = urlparse(server).netloc
    body = b"k 1000 u 7\nk 2000 u 8\n"
    cut = 13  # mid-line of the second record
    c = http.client.HTTPConnection(host, timeout=30)
    c.putrequest("PUT", "/")
    c.putheader("Transfer-Encoding", "chunked")
    c.endheaders()
    c.send(b"%x\r\n" % cut + body[:cut] + b"\r\n")
    c.send(b"%x\r\n" % (len(body) - cut) + body[cut:] + b"\r\n")
    c.send(b"0\r\n\r\n")
    r = c.getresponse()
    assert r.status == 201, r.read()
    c.close()
    rows = {(x.key, x.ts): x.v_long[0] for x in db.read().collect()}
    assert rows == {("k", 1000): 7, ("k", 2000): 8}


def test_serve_put_chunked_malformed_is_400(server, db):
    """The chunked decoder fails LOUDLY on broken framing: a garbage
    chunk-size token and a missing CRLF chunk terminator each get a
    400 and a dropped connection (a broken chunk stream cannot be
    resynchronized), and nothing is committed."""
    import http.client
    from urllib.parse import urlparse

    host = urlparse(server).netloc
    for raw in (
        b"zz\r\nhello\r\n0\r\n\r\n",  # non-hex size
        b"5\r\nk 1 uXX0\r\n\r\n",  # chunk data not CRLF-terminated
        # chunk-size line longer than the 66-byte reader cap: must be
        # refused, not silently truncated into a misframed stream
        b"5;" + b"x" * 100 + b"\r\nk 1 u\r\n0\r\n\r\n",
        # non-RFC forms int(tok, 16) alone would ACCEPT: sign prefixes
        # (negative skips the data loop entirely), Python underscore
        # separators ('1_0' parses as 0x10), surrounding whitespace
        b"+5\r\nk 1 u\r\n0\r\n\r\n",
        b"-5\r\n0\r\n\r\n",
        b"1_0\r\n" + b"x" * 16 + b"\r\n0\r\n\r\n",
        b" 5\r\nk 1 u\r\n0\r\n\r\n",
        b"5 \r\nk 1 u\r\n0\r\n\r\n",
        b"\r\nk 1 u\r\n0\r\n\r\n",  # empty size token
    ):
        c = http.client.HTTPConnection(host, timeout=10)
        c.putrequest("PUT", "/")
        c.putheader("Transfer-Encoding", "chunked")
        c.endheaders()
        c.send(raw)
        r = c.getresponse()
        assert r.status == 400, raw
        c.close()
    assert db.read().count() == 0


def test_serve_put_chunked_eof_mid_trailer_is_400(server, db):
    """A connection that dies between the terminal '0' chunk and the
    trailer's blank line is a TRUNCATED body, not a clean end: the
    server must not commit (the first run's framing contract — EOF in
    the size line and EOF mid-chunk already refuse; the trailer loop
    must too)."""
    import socket
    from urllib.parse import urlparse

    host, port = urlparse(server).netloc.split(":")
    s = socket.create_connection((host, int(port)), timeout=10)
    s.sendall(
        b"PUT / HTTP/1.1\r\nHost: x\r\nTransfer-Encoding: chunked\r\n\r\n"
        b"a\r\nk 1000 u 7\r\n0\r\n"  # terminal chunk, NO trailer blank line
    )
    s.shutdown(socket.SHUT_WR)  # EOF mid-trailer
    resp = s.recv(4096)
    s.close()
    assert resp.startswith(b"HTTP/1.1 400"), resp
    assert db.read().count() == 0  # nothing committed


def test_serve_keepalive_reuse_and_failed_put_drop(server, db):
    """HTTP/1.1 persistent-connection parity (sonnerie-serve's hyper
    front-end keeps connections open by default): one connection
    serves PUT -> GET -> chunked PUT -> GET back-to-back, GET bodies
    arrive chunk-framed so the client knows where each ends, and a
    FAILED put (parse error) still answers 400 then drops the socket —
    its half-read body must never be parsed as the next request."""
    import http.client
    from urllib.parse import urlparse

    host = urlparse(server).netloc
    c = http.client.HTTPConnection(host, timeout=30)
    # request 1: PUT
    c.request("PUT", "/", body=b"b 2000 u 2\na 1000 u 1\n")
    r = c.getresponse()
    assert (r.status, r.read()) == (201, b"ok")
    # request 2: GET on the SAME socket
    c.request("GET", "/%25")
    r = c.getresponse()
    assert r.status == 200
    assert r.read().decode().splitlines() == ["a\t1000\t1", "b\t2000\t2"]
    # request 3: chunked PUT, same socket
    c.putrequest("PUT", "/")
    c.putheader("Transfer-Encoding", "chunked")
    c.endheaders()
    c.send(b"b\r\nc 3000 u 3\n\r\n0\r\n\r\n")
    r = c.getresponse()
    assert (r.status, r.read()) == (201, b"ok")
    # request 4: GET sees all three transactions, same socket
    c.request("GET", "/%25")
    r = c.getresponse()
    assert len(r.read().splitlines()) == 3
    c.close()
    assert len(db.data_runs()) == 2  # two PUTs = two transactions

    # a failed PUT answers 400, advertises Connection: close, and the
    # server actually closes the socket (raw recv sees EOF) — its
    # half-read body is never parsed as a next request
    import socket

    h, p = host.split(":")
    s = socket.create_connection((h, int(p)), timeout=10)
    bad = b"not-a-valid-line\n"
    s.sendall(
        b"PUT / HTTP/1.1\r\nHost: x\r\nContent-Length: %d\r\n\r\n" % len(bad)
        + bad
        + b"GET /%25 HTTP/1.1\r\nHost: x\r\n\r\n"  # pipelined follow-up
    )
    buf = b""
    while True:
        got = s.recv(65536)
        if not got:
            break  # server closed after the 400
        buf += got
    s.close()
    assert buf.startswith(b"HTTP/1.1 400")
    assert b"Connection: close" in buf
    assert b"HTTP/1.1 200" not in buf  # the pipelined GET was dropped
    assert db.read().count() == 3


def test_serve_keepalive_requests_do_not_wait_for_delayed_ack(tmp_path):
    """A response leaves in several send() calls (headers, then body
    chunks). Without TCP_NODELAY on the server socket, Nagle's algorithm
    holds the second segment until the client's delayed ACK, ~40 ms on
    Linux, on every request of a kept-alive connection: 20 requests
    would take ~0.8 s. Spark-free, so only the serve layer is timed."""
    import http.client
    import time

    db = Database(None, str(tmp_path / "db"), buckets=2, durable=False)
    db.commit_rows(
        [{"key": "k", "ts": 1000, "fmt": "u", "v_long": [1],
          "v_double": [], "v_str": [], "v_bin": []}]
    )
    srv = make_server(db)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    c = http.client.HTTPConnection("127.0.0.1", srv.server_address[1], timeout=30)
    try:
        c.request("GET", "/k")  # warm: imports and the footer cache
        assert c.getresponse().read() == b"k\t1000\t1\n"

        t0 = time.perf_counter()
        for _ in range(20):
            c.request("GET", "/k")
            r = c.getresponse()
            assert (r.status, r.read()) == (200, b"k\t1000\t1\n")
        get_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        for i in range(20):
            c.request("PUT", "/", body=f"p{i} 1000 u {i}\n".encode())
            r = c.getresponse()
            assert (r.status, r.read()) == (201, b"ok")
        put_s = time.perf_counter() - t0
    finally:
        c.close()
        srv.shutdown()
        srv.server_close()
    assert get_s < 0.4, f"20 GETs took {get_s:.3f} s"
    assert put_s < 0.4, f"20 PUTs took {put_s:.3f} s"


def test_serve_pipelined_requests_and_connection_close(server, db):
    """Pipelining fuzz on the raw socket: three GETs written in ONE
    send() must come back as three well-framed 200 responses in order;
    a request carrying 'Connection: close' is answered then the socket
    closes (honored, not ignored)."""
    import socket
    from urllib.parse import urlparse

    _put(server, "a 1000 u 1\n")
    host, port = urlparse(server).netloc.split(":")
    s = socket.create_connection((host, int(port)), timeout=30)
    s.sendall(
        b"GET /%25 HTTP/1.1\r\nHost: x\r\n\r\n"
        b"GET /a HTTP/1.1\r\nHost: x\r\n\r\n"
        b"GET /%25 HTTP/1.1\r\nHost: x\r\nConnection: close\r\n\r\n"
    )
    buf = b""
    while True:
        got = s.recv(65536)
        if not got:
            break  # server honored Connection: close
        buf += got
    s.close()
    assert buf.count(b"HTTP/1.1 200") == 3
    # each streamed body is chunk-framed and cleanly terminated
    assert buf.count(b"\r\n0\r\n\r\n") == 3
    # the record line is present in each response body
    assert buf.count(b"a\t1000\t1") == 3


def test_serve_http10_client_gets_unchunked_body(server, db):
    """A true HTTP/1.0 client cannot parse chunked framing (RFC 9112
    §6.1): its GET must receive a close-delimited PLAIN body — no
    Transfer-Encoding, no hex chunk-size lines interleaved with
    records — and the server closes when done."""
    import socket
    from urllib.parse import urlparse

    _put(server, "a 1000 u 1\nb 2000 u 2\n")
    host, port = urlparse(server).netloc.split(":")
    s = socket.create_connection((host, int(port)), timeout=30)
    s.sendall(b"GET /%25 HTTP/1.0\r\nHost: x\r\n\r\n")
    buf = b""
    while True:
        got = s.recv(65536)
        if not got:
            break  # close-delimited: EOF ends the body
        buf += got
    s.close()
    head, _, body = buf.partition(b"\r\n\r\n")
    assert head.startswith(b"HTTP/1.1 200")
    assert b"Transfer-Encoding" not in head
    assert b"Connection: close" in head
    assert body == b"a\t1000\t1\nb\t2000\t2\n"  # no chunk framing


def test_serve_get_with_body_is_answered_then_closed(server, db):
    """A GET that CARRIES a body (legal, rare) would misframe
    keep-alive if the body went unread: the server answers it, then
    closes the connection — the unread body bytes and any pipelined
    follow-up are never parsed as a next request."""
    import socket
    from urllib.parse import urlparse

    _put(server, "a 1000 u 1\n")
    host, port = urlparse(server).netloc.split(":")
    s = socket.create_connection((host, int(port)), timeout=30)
    s.sendall(
        b"GET /%25 HTTP/1.1\r\nHost: x\r\nContent-Length: 5\r\n\r\nhello"
        b"GET /%25 HTTP/1.1\r\nHost: x\r\n\r\n"  # pipelined follow-up
    )
    buf = b""
    while True:
        got = s.recv(65536)
        if not got:
            break  # server closed after the first response
        buf += got
    s.close()
    assert buf.count(b"HTTP/1.1 200") == 1  # follow-up was NOT served
    assert b"Connection: close" in buf
    assert buf.count(b"a\t1000\t1") == 1


def test_serve_get_with_body_that_500s_still_closes(server, db, monkeypatch):
    """A GET carrying a body that errors BEFORE headers must 500 AND
    close: the success path closes via _streaming_ok, but a pre-header
    engine error used to reply 500 keep-alive with the body bytes
    unread — misframing the pipelined follow-up as starting at
    'hello'."""
    import socket
    from urllib.parse import urlparse

    _put(server, "a 1000 u 1\n")
    monkeypatch.setattr(  # the GET's point read raises
        db, "get_table", lambda *a, **k: (_ for _ in ()).throw(RuntimeError("boom"))
    )
    host, port = urlparse(server).netloc.split(":")
    s = socket.create_connection((host, int(port)), timeout=30)
    s.sendall(
        b"GET /a HTTP/1.1\r\nHost: x\r\nContent-Length: 5\r\n\r\nhello"
        b"GET /a HTTP/1.1\r\nHost: x\r\n\r\n"  # pipelined follow-up
    )
    buf = b""
    while True:
        got = s.recv(65536)
        if not got:
            break  # server closed after the 500
        buf += got
    s.close()
    assert buf.startswith(b"HTTP/1.1 500")
    assert b"Connection: close" in buf
    assert buf.count(b"HTTP/1.1") == 1  # follow-up was NOT served


def test_fast_reads_format_per_column(db, monkeypatch):
    """Exact, prefix and ``?human`` GETs, and the CLI's exact and prefix
    reads, render the point read's table per column: the per-row
    ``cli.record_to_line`` is never called. A mid-pattern wildcard (the
    Spark plan) still renders per row."""
    import io
    import sys

    from sonnerie_spark import cli

    db.commit_rows([
        {"key": "a", "ts": 2 * 10**9, "fmt": "Fs", "v_long": [],
         "v_double": [0.5], "v_str": ["x y"], "v_bin": []},
        {"key": "ab", "ts": 10**9, "fmt": "u", "v_long": [7],
         "v_double": [], "v_str": [], "v_bin": []},
        {"key": "b", "ts": 10**9, "fmt": "u", "v_long": [8],
         "v_double": [], "v_str": [], "v_bin": []},
    ])

    def per_row(*a, **k):
        raise AssertionError("per-row formatter on a fast path")

    monkeypatch.setattr(cli, "record_to_line", per_row)
    srv = make_server(db)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"

    def get(path):
        with urllib.request.urlopen(base + path) as r:
            return r.read()

    def read(*argv):
        args = cli.build_parser().parse_args(["-d", db.path, "read", *argv])
        old, sys.stdout = sys.stdout, io.StringIO()
        try:
            cli.cmd_read(db, args)
            return sys.stdout.getvalue()
        finally:
            sys.stdout = old

    try:
        assert get("/a") == b"a\t2000000000\t0.50000000000000000 x\\ y\n"
        assert get("/a%25") == (
            b"a\t2000000000\t0.50000000000000000 x\\ y\nab\t1000000000\t7\n"
        )
        assert get("/ab?human") == b"ab\t1970-01-01 00:00:01\t7\n"
        assert read("ab") == "ab\t1970-01-01 00:00:01\t7\n"
        assert read("a%", "--print-format", "--timestamp-seconds", "--columns", "2") == (
            "a\t2\tFs\tx\\ y\nab\t1\tu\t\n"
        )
        calls = []
        monkeypatch.setattr(cli, "record_to_line", lambda *a, **k: calls.append(1) or "")
        get("/%25b")  # mid-pattern wildcard: the Spark plan
        assert calls
    finally:
        srv.shutdown()
        srv.server_close()


def _age(path, seconds):
    import os
    import time

    old = time.time() - seconds
    os.utime(path, (old, old))


def test_purge_stale_tmp_spares_live_writers(db):
    """The crash-debris janitor never removes a LIVE writer's tmp dir,
    however old: a spilling Transaction holds its dir's flock, whether
    it runs in this process or in another one. Once the other process
    exits, the kernel drops its lock and the same dir is debris."""
    import os
    import subprocess
    import sys

    from sonnerie_spark.db import Transaction

    db.STALE_TMP_SECONDS = 2.0  # instance shadow; function-scoped db
    tx = Transaction(db, strict_order=True, spill_threshold=1)
    tx.add_record("k", 1, "u", [1])
    mine = os.path.dirname(tx._spill_dir)
    _age(mine, 30)

    child = subprocess.Popen(
        [sys.executable, "-c", (
            "import os, sys\n"
            "from sonnerie_spark.db import Database, Transaction\n"
            "tx = Transaction(Database(None, sys.argv[1]), strict_order=True,"
            " spill_threshold=1)\n"
            "tx.add_record('k', 1, 'u', [1])\n"
            "print(os.path.dirname(tx._spill_dir), flush=True)\n"
            "sys.stdin.read()\n"
        ), db.path],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    try:
        theirs = child.stdout.readline().strip()
        assert theirs.startswith(os.path.join(db.path, ".tmp-")), theirs
        _age(theirs, 30)
        db._purge_stale_tmp()
        assert os.path.isdir(mine), "this process's live spill was reaped"
        assert os.path.isdir(theirs), "another process's live spill was reaped"
    finally:
        child.stdin.close()
        child.wait(timeout=60)
    _age(theirs, 30)
    db._purge_stale_tmp()
    assert not os.path.exists(theirs), "a dead writer's dir survived"
    assert os.path.isdir(mine)
    assert tx.commit() is not None
    assert not os.path.exists(mine)
    assert [r["v_long"] for r in db.get("k")] == [[1]]


def test_purge_stale_tmp_pidless_decimal_token(db):
    """Names carry no liveness: compaction's pid-less ``.tmp-compact-*``
    / ``.tmp-old-*`` dirs (a live compactor is excluded by the
    compaction lock the janitor holds) are reaped by age alone, even
    when their hex timestamp token reads as a decimal number."""
    import os

    stale = os.path.join(db.path, ".tmp-compact-1890576123456789")
    os.makedirs(stale)
    _age(stale, 7200)
    old = os.path.join(db.path, ".tmp-old-1890576123456789-0")
    os.makedirs(os.path.join(old, "sub"))
    _age(old, 7200)
    fresh = os.path.join(db.path, ".tmp-compact-1890576999999999")
    os.makedirs(fresh)
    db._purge_stale_tmp()
    assert not os.path.exists(stale), "stale pid-less debris survived"
    assert not os.path.exists(old), "stale hidden-run debris survived"
    assert os.path.isdir(fresh), "fresh pid-less tmp dir was purged"


def test_purge_stale_tmp_detects_pid_reuse(db):
    """An unlocked stale dir is debris even when the pid in its name is
    alive — the old pid-reuse case, where a recycled pid used to spare
    a dead writer's dir. Liveness is the dir's own flock, so a fresh
    child file no longer spares an unlocked dir either; an unlocked dir
    is spared only while its own mtime is within the horizon (the
    instant between an owner's mkdir and its flock)."""
    import os

    reused = os.path.join(db.path, f".tmp-{os.getpid()}-deadbeef")
    os.makedirs(reused)
    with open(os.path.join(reused, "spill.parquet"), "w") as f:
        f.write("x")  # fresh child, stale dir
    _age(reused, 7200)
    put = os.path.join(db.path, f".tmp-put-{os.getpid()}-cafe")
    os.makedirs(put)
    _age(put, 7200)
    fresh = os.path.join(db.path, f".tmp-{os.getpid()}-f00d")
    os.makedirs(fresh)
    db._purge_stale_tmp()
    assert not os.path.exists(reused), "unlocked stale dir survived"
    assert not os.path.exists(put), "unlocked stale spool survived"
    assert os.path.isdir(fresh), "fresh unlocked dir was purged"
