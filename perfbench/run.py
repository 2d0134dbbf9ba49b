#!/usr/bin/env python3
"""Sonnerie-core benchmark: serving (PUT -> commit -> GET) and the
Spark-side LSM maintenance (bulk load, scan, compaction, fold).

    python3 perfbench/run.py --workload serve_read|serve_lsm \\
        --seed N --seconds S --trace 0|1

Run from the repository root. One run:

1. set-up (timed as ``setup_s``): build the base database 3 times with
   the Spark-free ``Transaction.add_line`` path (the median build
   counts), start ``server.py`` (``get_spark()`` +
   ``Database`` + ``make_server``), then send 15 requests per connection
   of the workload's mix to fill the footer cache;
2. serve phase, S seconds: a closed loop on 2 keep-alive connections
   (TCP_NODELAY, as curl sets it) sending the workload's GET / prefix
   GET / PUT mix; every response is checked against an in-memory
   last-writer-wins + delete model (record count always, full bytes
   for every 4th response); both connections pause once, after a fixed
   number of PUTs each, while ``space_amp`` is taken;
3. traced runs only: the bulk phase, 5 cycles inside the server
   process, each a sorted ``Transaction.add_line`` load,
   ``commit_deletes``, a materialized ``read()`` scan,
   ``compact(major=True)`` and 3 ``agg_series()`` calls; scan counts and
   fold results are checked against the model;
4. durability probe: a PUT is sent and the server process group is
   killed with SIGKILL while it may be in flight; a fresh process reopens
   the directory and must read exactly the model for every key, and the
   probe's records all or none. The OS page cache survives a process
   kill, so this shows atomic publication, not power-loss durability.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it carries
diagnostics: host-noise stamp, tail percentiles with sample counts.
Exit code 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import collections
import http.client
import json
import os
import random
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass
from urllib.parse import quote

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402

clock = time.perf_counter

CONNECTIONS = 2
BULK_CYCLES = 5
BUILDS = 3
WARM_REQUESTS = 15  # per connection
# PUTs per connection after which space_amp is taken: about half of a
# 20 s window on a 4-core host
CHECKPOINT_PUTS = {"serve_read": 15, "serve_lsm": 30}
SAMPLE_EVERY = 4  # byte-compare every 4th checked response
TRACE_TOGGLE_S = 0.5


# -- host-noise stamp -------------------------------------------------------

def calib_ms() -> float:
    """Median of 3 timings of a fixed pure-Python loop."""
    out = []
    for _ in range(3):
        t0 = clock()
        x = 0
        for i in range(200_000):
            x += i * i
        out.append((clock() - t0) * 1e3)
    return statistics.median(out)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


# -- statistics -------------------------------------------------------------

def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest order statistic with at least
    ten samples above it — the highest percentile the sample supports."""
    s = sorted(values)
    n = len(s)
    if n < 11:
        raise RuntimeError(f"only {n} samples; a tail needs at least 11")
    return s[n - 11], 100.0 * (n - 10) / n, n


# -- the request mix --------------------------------------------------------

@dataclass
class Op:
    kind: str  # GET, PREFIX, PUT or DEL (a delete-marker commit)
    path: str = "/"
    body: bytes | None = None
    keys: tuple = ()
    lines: list | None = None
    marker: dict | None = None


class Mix:
    """One connection's seeded op stream. A connection writes and reads
    only keys it owns, so the model predicts every response exactly even
    with two connections committing concurrently."""

    def __init__(self, workload: str, seed: int, conn: int, model):
        self.model, self.conn = model, conn
        self.workload = workload
        self.rng = gen.rng_for(seed, workload, "conn", conn)
        self.n_put = 0
        self.delete_due = False
        self.fresh = gen.T_PUT + conn * 10**12
        if workload == "serve_read":
            keys = [k for k, _ in gen.base_keys(workload, seed)]
            # which key is how hot is fixed; the seed draws the requests
            self.zipf = gen.Zipf(keys, 1.1, random.Random(0))
            self.groups: dict[str, list[str]] = {}
            for k in keys:
                self.groups.setdefault(k.split(".")[0] + ".", []).append(k)
            self.group_names = sorted(self.groups)
        else:
            self.blocks = list(range(conn, gen.LSM_KEYS // gen.BLOCK, CONNECTIONS))
            self.recent: collections.deque = collections.deque(maxlen=3)

    def next(self) -> Op:
        r = self.rng.random()
        if self.workload == "serve_read":
            if r < 0.75:
                return self._get(self.zipf.pick(self.rng))
            if r < 0.9:
                g = self.rng.choice(self.group_names)
                return self._prefix(g, self.groups[g])
            # PUTs go to fresh keys of this connection, never read back
            # during the phase: every GET finds its key in the base run
            self.n_put += 1
            base = f"p{self.conn}.{self.n_put:05d}"
            lines = [gen.line(f"{base}.{i}", self.fresh + j, self.rng.getrandbits(32))
                     for i in range(4) for j in range(50)]
            self.fresh += 50
            return self._put(lines)
        if self.delete_due:
            # every 10th PUT is followed by a delete-marker commit on an
            # owned block, from this process, as the CLI `delete` does
            self.delete_due = False
            b = self.rng.choice(self.blocks)
            return Op("DEL", marker={
                "first_key": f"k{b:04d}", "last_key": f"k{b + 1:04d}",
                "after_ns": gen.T0 + 5 * gen.STEP, "before_ns": gen.T0 + 12 * gen.STEP,
                "wildcard": "%"})
        if r < 0.2:
            return self._lsm_put()
        if r < 0.85:
            if self.recent and self.rng.random() < 0.5:
                b = self.rng.choice(self.recent)
            else:
                b = self.rng.choice(self.blocks)
            return self._get(gen.lsm_key(b * gen.BLOCK + self.rng.randrange(gen.BLOCK)))
        b = self.rng.choice(self.blocks)
        return self._prefix(f"k{b:04d}", [gen.lsm_key(b * gen.BLOCK + d)
                                          for d in range(gen.BLOCK)])

    def _lsm_put(self) -> Op:
        """200 unsorted lines on one owned block: per key, half overwrite
        existing (key, ts) pairs (last writer wins), half are new."""
        b = self.rng.choice(self.blocks)
        self.recent.append(b)
        self.n_put += 1
        self.delete_due = self.n_put % 10 == 0
        lines = []
        for d in range(gen.BLOCK):
            key = gen.lsm_key(b * gen.BLOCK + d)
            have = sorted(self.model.recs.get(key, {}))
            over = self.rng.sample(have, min(10, len(have)))
            new = list(range(self.fresh, self.fresh + 20 - len(over)))
            self.fresh += len(new)
            lines += [gen.line(key, ts, self.rng.getrandbits(32)) for ts in over + new]
        self.rng.shuffle(lines)
        return self._put(lines)

    def _get(self, key) -> Op:
        return Op("GET", "/" + quote(key), keys=(key,))

    def _prefix(self, prefix, keys) -> Op:
        """``keys``: every key with this prefix; only base keys match
        one, so the list is fixed and the model need not be scanned."""
        return Op("PREFIX", "/" + quote(prefix + "%"), keys=tuple(keys))

    def _put(self, lines) -> Op:
        return Op("PUT", body=("\n".join(lines) + "\n").encode(), lines=lines)


# -- one client connection --------------------------------------------------

class Client:
    def __init__(self, port: int, conn: int, mix: Mix, model, check, db_dir: str,
                 tag: str):
        self.port, self.conn, self.mix, self.model = port, conn, mix, model
        self.tag = tag  # request ids are unique across phases
        self.check = check
        self.db_dir = db_dir
        self.http = None
        self.db = None
        self.n = 0
        self.log: list[dict] = []
        self.untimed: list[dict] = []
        self.active_s = 0.0

    def _connect(self):
        self.http = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        self.http.connect()
        self.http.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)

    def run(self, deadline: float, max_ops: int | None = None,
            checkpoint: "Checkpoint | None" = None) -> None:
        """Send ops until ``deadline`` (or ``max_ops`` of them). With a
        checkpoint, wait after its number of PUTs for the other
        connections; the wait extends this connection's window. If the
        window ends first, go on up to the checkpoint with untimed ops."""
        t_start = clock()
        t_end = None  # when the last timed op ended
        waited = 0.0
        done = puts = 0
        pending = checkpoint is not None
        try:
            while max_ops is None or done < max_ops:
                if pending and puts == checkpoint.at:
                    pending = False
                    t = clock()
                    checkpoint.wait()
                    if t_end is not None:
                        break
                    waited = clock() - t
                    deadline += waited
                if t_end is None and clock() >= deadline:
                    t_end = clock()
                    if not pending:
                        break
                op = self.mix.next()
                self.one(op, timed=t_end is None)
                done += 1
                puts += op.kind == "PUT"
        except Exception as e:  # noqa: BLE001 - a dead client fails the run
            self.check(False, f"client {self.conn} stopped: {e!r}")
            if checkpoint is not None:
                checkpoint.barrier.abort()
        if self.http is not None:
            self.http.close()
            self.http = None
        self.active_s = (t_end or clock()) - t_start - waited

    def one(self, op: Op, timed: bool = True) -> None:
        """Send one op and check its response. Untimed ops are checked
        and counted but left out of the latencies (``self.untimed``)."""
        self.n += 1
        req = f"{self.tag}{self.conn}-{self.n}"
        rec = {"req": req, "kind": op.kind, "ok": False}
        if op.kind == "DEL":
            if self.db is None:
                from sonnerie_spark.db import Database

                self.db = Database(None, self.db_dir, durable=True)
            t0 = clock()
            try:
                self.db.commit_deletes([op.marker])
                rec["ok"] = True
                self.model.delete(op.marker)
            except Exception as e:  # noqa: BLE001 - counted as a failed op
                self.check(False, f"{req} delete failed: {e!r}")
            rec.update(t0=t0, t1=clock())
            (self.log if timed else self.untimed).append(rec)
            return
        if self.http is None:
            self._connect()
        t0 = clock()
        try:
            self.http.request(
                "PUT" if op.kind == "PUT" else "GET", op.path, body=op.body,
                headers={"X-Bench-Req": req},
            )
            resp = self.http.getresponse()
            body = resp.read()
            t1 = clock()
            if resp.will_close:
                self.http.close()
                self.http = None
        except (OSError, http.client.HTTPException) as e:
            self.check(False, f"{req} {op.kind} transport error: {e!r}")
            self.http = None
            rec.update(t0=t0, t1=clock())
            (self.log if timed else self.untimed).append(rec)
            return
        rec.update(t0=t0, t1=t1, status=resp.status, bytes=len(body))
        if op.kind == "PUT":
            rec["lines"] = op.lines
            rec["ok"] = resp.status == 201 and body == b"ok"
            self.check(rec["ok"], f"{req} PUT -> {resp.status} {body[:200]!r}")
            if rec["ok"]:
                self.model.load_lines(op.lines)
        else:
            keys = op.keys
            want = sum(len(self.model.recs.get(k, ())) for k in keys)
            got = body.count(b"\n")
            rec["ok"] = resp.status == 200
            self.check(resp.status == 200, f"{req} GET -> {resp.status} {body[:200]!r}")
            self.check(got == want, f"{req} {op.path}: {got} records, model has {want}")
            if self.n % SAMPLE_EVERY == 0:
                self.check(body == self.model.get_body(keys),
                           f"{req} {op.path}: body differs from the model")
        (self.log if timed else self.untimed).append(rec)


# -- the server process -----------------------------------------------------

class Server:
    def __init__(self, work: str, db_dir: str, workload: str, seed: int, trace: int):
        env = dict(os.environ)
        cpus = str(os.cpu_count() or 4)
        env.setdefault("SPARK_GRAFT_CPUS", cpus)
        env["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env["TMPDIR"] = tmp
        env["SPARK_LOCAL_DIRS"] = tmp
        env["SPARK_GRAFT_EXTRA_CONF"] = json.dumps({
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # temp files and the JVM's perf-data file stay in the work dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        })
        env["PYTHONPATH"] = ROOT
        self.log = open(os.path.join(work, "server.log"), "wb")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server.py"), "--db", db_dir,
             "--warm-db", os.path.join(work, "warm"), "--workload", workload,
             "--seed", str(seed), "--trace", str(trace)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            cwd=work, env=env, start_new_session=True,
        )
        self.lock = threading.Lock()
        self.jvm_pid = None

    def read_reply(self) -> dict:
        while True:
            ln = self.proc.stdout.readline()
            if not ln:
                raise RuntimeError(f"server exited (code {self.proc.poll()}); see server.log")
            if ln.startswith(b"@@ "):
                return json.loads(ln[3:])

    def call(self, **cmd) -> dict:
        with self.lock:
            self.proc.stdin.write((json.dumps(cmd) + "\n").encode())
            self.proc.stdin.flush()
            return self.read_reply()

    def kill(self) -> None:
        """SIGKILL the server's process group (Python and its JVM) and
        wait until both have ended."""
        if self.proc.poll() is None:
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.proc.wait()
        if self.jvm_pid is not None:
            deadline = time.time() + 30
            while time.time() < deadline and _alive(self.jvm_pid):
                time.sleep(0.05)
        for f in (self.proc.stdin, self.proc.stdout):
            try:
                f.close()
            except OSError:
                pass
        self.log.close()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# -- one run ----------------------------------------------------------------

class Checks:
    def __init__(self):
        self.failures: list[str] = []
        self.lock = threading.Lock()

    def __call__(self, ok: bool, msg: str) -> None:
        if not ok:
            with self.lock:
                self.failures.append(msg)
                if len(self.failures) <= 20:
                    print(f"CHECK FAILED: {msg}", file=sys.stderr)


class Checkpoint:
    """Every connection stops after its ``at``-th PUT of the serve phase
    while ``take`` reads the database's state, so ``space_amp`` measures
    a fixed number of runs, not however many PUTs the host's speed
    fitted into the window."""

    def __init__(self, at: int, take):
        self.at = at
        self.value = None
        self.barrier = threading.Barrier(CONNECTIONS, action=lambda: setattr(
            self, "value", take()), timeout=120)

    def wait(self) -> None:
        self.barrier.wait()


def serve_phase(port, mixes, model, check, db_dir, seconds, *, warm, server=None,
                checkpoint=None):
    """Closed loop on CONNECTIONS connections; returns (timed log,
    untimed log, requests per second of the timed ops)."""
    clients = [Client(port, c, mixes[c], model, check, db_dir, "w" if warm else "m")
               for c in range(CONNECTIONS)]
    deadline = clock() + (3600 if warm else seconds)
    stop = threading.Event()

    def toggle():  # traced run: alternate traced and untraced windows
        on = False
        while not stop.wait(TRACE_TOGGLE_S):
            on = not on
            server.call(cmd="trace", on=on)
        server.call(cmd="trace", on=False)

    toggler = None
    if server is not None:
        toggler = threading.Thread(target=toggle)
        toggler.start()
    threads = [threading.Thread(target=c.run, args=(
        deadline, WARM_REQUESTS if warm else None, checkpoint)) for c in clients]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    stop.set()
    if toggler is not None:
        toggler.join()
    # each connection's rate over its own window, waits excluded
    req_per_s = sum(
        sum(1 for r in c.log if r["ok"] and r["kind"] != "DEL") / c.active_s
        for c in clients)
    return ([r for c in clients for r in c.log],
            [r for c in clients for r in c.untimed], req_per_s)


def run(args, work: str) -> tuple[bool, int, int, dict, dict, dict]:
    from sonnerie_spark.db import Database, Transaction

    check = Checks()
    db_dir = os.path.join(work, "db")
    buckets = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    lines = list(gen.base_lines(args.workload, args.seed))
    n_base = len(lines)
    model = gen.Model()

    # -- set-up -------------------------------------------------------------
    # The base is built BUILDS times (the last build is the one served)
    # and the median build counts, so one slow moment of the host does
    # not decide setup_s.
    import pyarrow.parquet  # noqa: F401 - a one-time import, not ingest work

    builds = []
    for i in range(BUILDS):
        path = db_dir if i == BUILDS - 1 else os.path.join(work, f"build{i}")
        t0 = clock()
        tx = Transaction(Database(None, path, buckets=buckets), strict_order=True)
        for ln in lines:
            tx.add_line(ln)
        tx.commit()
        builds.append(clock() - t0)
        if path != db_dir:
            shutil.rmtree(path)
    build_s = statistics.median(builds)
    model.load_lines(lines)
    del lines
    t_start = clock()
    server = Server(work, db_dir, args.workload, args.seed, args.trace)
    pt = None
    try:
        ready = server.read_reply()
        server.jvm_pid = ready["jvm_pid"]
        port = ready["ready"]
        mixes = [Mix(args.workload, args.seed, c, model) for c in range(CONNECTIONS)]
        t0 = clock()
        warm_log, _, _ = serve_phase(port, mixes, model, check, db_dir, 0, warm=True)
        warm_s = clock() - t0
        setup_s = build_s + clock() - t_start

        # -- serve phase ----------------------------------------------------
        checkpoint = Checkpoint(CHECKPOINT_PUTS[args.workload], lambda: (
            server.call(cmd="state")["bytes"], model.live_text_bytes()))
        t0 = clock()
        log, late, req_per_s = serve_phase(
            port, mixes, model, check, db_dir, args.seconds, warm=False,
            server=server if args.trace else None, checkpoint=checkpoint)
        serve_s = clock() - t0
        check(checkpoint.value is not None, "the space_amp checkpoint was not reached")
        state = server.call(cmd="state")

        # -- bulk phase (traced runs only) ------------------------------------
        cycles, live = [], []  # live: (records, text bytes) after each cycle
        if args.trace:
            cycles = server.call(cmd="bulk", cycles=BULK_CYCLES)["cycles"]
        for cyc in cycles:
            lines, marker = gen.bulk_cycle(args.workload, args.seed, cyc["cycle"])
            model.load_lines(lines)
            model.delete(marker)
            n = model.live_count()
            live.append((n, model.live_text_bytes()))
            check(cyc["scan_n"] == n and cyc["scan_m"] == n,
                  f"bulk cycle {cyc['cycle']}: scan saw {cyc['scan_n']}/{cyc['scan_m']}, model {n}")
            got = {r[0]: tuple(r[1:]) for r in cyc["fold"]}
            want = model.fold()
            check(got == want, f"bulk cycle {cyc['cycle']}: agg_series differs from the model "
                               f"({len(got)} vs {len(want)} keys)")
        dump = None
        if args.trace:
            out_dir = os.path.join(HERE, "_out")
            os.makedirs(out_dir, exist_ok=True)
            dump = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.jsonl")
        stats = server.call(cmd="stats", dump=dump)

        # -- durability probe -----------------------------------------------
        probe_lines = [gen.line(f"zprobe.{i}", gen.T0 + j, j) for i in range(4) for j in range(50)]
        probe = {"acked": False}

        def send_probe():
            try:
                c = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
                c.request("PUT", "/", body=("\n".join(probe_lines) + "\n").encode())
                r = c.getresponse()
                probe["acked"] = r.status == 201 and r.read() == b"ok"
                c.close()
            except (OSError, http.client.HTTPException):
                pass

        pt = threading.Thread(target=send_probe)
        pt.start()
        time.sleep(random.Random(args.seed).uniform(0.0, 0.1))
    finally:
        server.kill()
        if pt is not None:
            pt.join()
    check_reopen(work, db_dir, model, probe_lines, probe["acked"], check)

    # bulk ops: the load, the delete commit, scans, the compaction, folds
    ops = warm_log + log + late + [{"kind": "BULK", "ok": True}] * sum(
        4 + len(c["fold_s"]) for c in cycles)
    attempted = len(ops)
    failed = sum(1 for r in ops if not r["ok"])

    lat = collections.defaultdict(list)
    for r in log:
        if r["ok"]:
            lat[r["kind"]].append((r["t1"] - r["t0"]) * 1e3)
    disk, live_bytes = checkpoint.value or (0, 1)
    e2e = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (stats["peak_rss_mb"], "MB"),
        "space_amp": (disk / live_bytes, "x"),
        "req_per_s": (req_per_s, "1/s"),
    }
    diag = {"build_s": builds, "build_rec_per_s": n_base / build_s,
            "session_start_s": ready["session_start_s"],
            "warm_s": ready["warm_s"], "warm_req_s": warm_s, "serve_s": serve_s,
            "untimed_ops": len(late),
            "runs_at_end": state["runs"], "probe_acked": probe["acked"]}
    for kind, name in [("GET", "get"), ("PREFIX", "prefix"), ("PUT", "put")]:
        v = lat[kind]
        check(len(v) >= 11, f"only {len(v)} {kind} samples")
        if len(v) < 11:
            continue
        e2e[f"{name}_p50_ms"] = (statistics.median(v), "ms")
        if kind == "GET":
            e2e["get_p90_ms"] = (statistics.quantiles(v, n=10)[-1], "ms")
        # The highest percentile with ten samples beyond it is reported
        # on the diagnostics line only: with a few hundred samples per
        # run it spreads too widely between runs to gate (README.md).
        val, pct, n = tail(v)
        diag[f"{name}_tail_ms"] = {"value": val, "percentile": pct, "samples": n}

    layer = {}
    if args.trace:
        layer = per_layer(log, stats, cycles, live, state["runs"], ready)
    return (not check.failures, attempted, failed, e2e, layer, diag)


def check_reopen(work, db_dir, model, probe_lines, probe_acked, check) -> None:
    """After the SIGKILL: a fresh process must read exactly the model,
    plus the probe PUT's records all or none."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "verify.py"), db_dir],
        capture_output=True, timeout=120, cwd=work,
        env=dict(os.environ, PYTHONPATH=ROOT, TMPDIR=os.path.join(work, "tmp")),
    )
    rows = None
    for ln in out.stdout.splitlines():
        if ln.startswith(b"@@ "):
            rows = json.loads(ln[3:])["rows"]
    check(rows is not None, f"reopen failed: {out.stderr.decode()[-2000:]}")
    if rows is None:
        return
    probe_keys = {ln.split("\t")[0] for ln in probe_lines}
    bad = [k for k in model.recs if [tuple(x) for x in rows.get(k, ())] != model.rows(k)]
    bad += [k for k in rows if k not in model.recs and k not in probe_keys]
    check(not bad, f"after kill -9: {len(bad)} keys differ from the acknowledged "
                   f"writes, e.g. {bad[:3]}")
    n_probe = sum(len(rows.get(k, ())) for k in probe_keys)
    check(n_probe in (0, len(probe_lines)) and (n_probe or not probe_acked),
          f"probe PUT (acked={probe_acked}) half-visible: {n_probe} of {len(probe_lines)}")


def per_layer(log, stats, cycles, live, runs_at_end, ready) -> dict:
    """Per-layer metrics of a traced run (see README.md for the map)."""
    ctx = {c["req"]: c for c in stats["contexts"]}
    traced = {"GET": [], "PREFIX": [], "PUT": []}  # (client record, counters)
    untraced_gets = []
    for r in log:
        c = ctx.get(r["req"])
        if not r["ok"] or c is None or r["kind"] not in traced:
            continue
        if c["traced"]:
            traced[r["kind"]].append((r, c["ctr"]))
        elif r["kind"] == "GET":
            untraced_gets.append(r)

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def ratio(num, den):
        return num / den if den else 0.0

    gets = traced["GET"]
    reads = gets + traced["PREFIX"]
    puts = traced["PUT"]

    def tot(pairs, name):
        return sum(c.get(name, 0.0) for _, c in pairs)

    def lat_ms(r):
        return (r["t1"] - r["t0"]) * 1e3

    loads = [c["ctr"] for c in stats["contexts"] if c["kind"] == "load"]

    def ltot(name):
        return sum(c.get(name, 0.0) for c in loads)

    parse_n = tot(puts, "rowformat.parse.n") + ltot("rowformat.parse.n")
    parse_s = tot(puts, "rowformat.parse.s") + ltot("rowformat.parse.s")
    bucket_n = sum(c["ctr"].get("bucketing.bucket_of.n", 0.0) for c in stats["contexts"])
    bucket_s = sum(c["ctr"].get("bucketing.bucket_of.s", 0.0) for c in stats["contexts"])
    n_fold = sum(len(c["fold_jobs"]) for c in cycles)
    on = [lat_ms(r) for r, _ in gets]
    off = [lat_ms(r) for r in untraced_gets]
    m = {
        "serve.get_ms": (mean(on), "ms"),
        "serve.get_self_ms": (mean(
            lat_ms(r) - 1e3 * (c.get("pointread.get.s", 0.0) + c.get("rowformat.print.s", 0.0))
            for r, c in gets), "ms"),
        "serve.resp_kb_per_get": (mean(r["bytes"] for r, _ in gets) / 1024, "kB"),
        "serve.put_self_ms": (mean(
            lat_ms(r) - 1e3 * (c.get("rowformat.parse.s", 0.0) + c.get("db.commit_rows.s", 0.0))
            for r, c in puts), "ms"),
        "rowformat.print_us_per_record": (1e6 * ratio(
            tot(reads, "rowformat.print.s"), tot(reads, "rowformat.print.n")), "us"),
        "rowformat.print_ms_per_get": (1e3 * ratio(tot(gets, "rowformat.print.s"), len(gets)), "ms"),
        "rowformat.parse_us_per_line": (1e6 * ratio(parse_s, parse_n), "us"),
        "pointread.get_ms": (1e3 * ratio(tot(gets, "pointread.get.s"), tot(gets, "pointread.get.n")), "ms"),
        "pointread.row_groups_per_get": (ratio(tot(gets, "pointread.row_groups"), len(gets)), "count"),
        "pointread.rows_decoded_per_returned": (ratio(
            tot(gets, "pointread.rows_decoded"), tot(gets, "pointread.rows_returned")), "x"),
        "pointread.prefix_ms": (1e3 * ratio(
            tot(traced["PREFIX"], "pointread.prefix.s"), len(traced["PREFIX"])), "ms"),
        "pointread.footer_opens_per_get": (ratio(tot(reads, "pointread.footer_opens"), len(reads)), "count"),
        "db.listing_ms_per_get": (1e3 * ratio(tot(reads, "db.listing.s"), len(reads)), "ms"),
        "db.listing_calls_per_get": (ratio(tot(reads, "db.listing.n"), len(reads)), "count"),
        "db.runs_at_end": (runs_at_end, "count"),
        "db.commit_rows_ms": (1e3 * ratio(tot(puts, "db.commit_rows.s"), len(puts)), "ms"),
        "fsutil.fsync_ms_per_commit": (1e3 * ratio(
            tot(puts, "fsutil.fsync_tree.s") + tot(puts, "fsutil.fsync_dir.s"), len(puts)), "ms"),
        "fsutil.fsyncs_per_commit": (ratio(
            tot(puts, "fsutil.fsyncs") + tot(puts, "fsutil.fsync_dir.n"), len(puts)), "count"),
        "bucketing.bucket_of_us_per_record": (1e6 * ratio(bucket_s, bucket_n), "us"),
        "db.tx_add_us_per_record": (1e6 * ratio(ltot("db.tx_add.s"),
                                                ltot("db.tx_add.n")), "us"),
        "db.tx_commit_ms": (1e3 * ratio(ltot("db.tx_commit.s"),
                                        ltot("db.tx_commit.n")), "ms"),
        "db.tx_load_rec_per_s": (statistics.median(c["load_lines"] / c["load_s"] for c in cycles), "1/s"),
        "spark.scan_rec_per_s": (statistics.median(c["scan_n"] / c["scan_s"] for c in cycles), "1/s"),
        "spark.compact_s": (statistics.median(c["compact_s"] for c in cycles), "s"),
        "pointread.fold_rec_per_s": (statistics.median(
            n / t for (n, _), c in zip(live, cycles) for t in c["fold_s"]), "1/s"),
        "db.read_plan_ms": (1e3 * mean(c["scan_plan_s"] for c in cycles), "ms"),
        "db.scan_action_s": (mean(c["scan_s"] - c["scan_plan_s"] for c in cycles), "s"),
        "spark.jobs_per_scan": (mean(c["scan_jobs"] for c in cycles), "count"),
        "spark.tasks_per_scan": (mean(c["scan_tasks"] for c in cycles), "count"),
        "spark.jobs_per_compact": (mean(c["compact_jobs"] for c in cycles), "count"),
        "spark.tasks_per_compact": (mean(c["compact_tasks"] for c in cycles), "count"),
        "db.compact_bytes_per_live_byte": (mean(
            c["bytes_after"] / lb for c, (_, lb) in zip(cycles, live)), "x"),
        "db.fold_arrow_frac": (ratio(sum(1 for c in cycles for j in c["fold_jobs"] if j == 0),
                                     n_fold), "frac"),
        "session.start_s": (ready["session_start_s"], "s"),
        "session.jvm_peak_rss_mb": (stats["jvm_peak_rss_mb"], "MB"),
        "trace.overhead_frac": (ratio(statistics.median(on), statistics.median(off)) - 1
                                if on and off else 0.0, "frac"),
    }
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve_read", "serve_lsm"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a plain SIGTERM would skip the clean-up that stops the server
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "sonnerie_spark", "db.py")):
        print("perfbench: sonnerie_spark/ not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2

    calib0 = calib_ms()
    steal0, total0 = cpu_jiffies()
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        correct, attempted, failed, e2e, layer, diag = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    calib1 = calib_ms()
    steal1, total1 = cpu_jiffies()
    diag["host"] = {"calib_ms_before": calib0, "calib_ms_after": calib1,
                    "steal_frac": (steal1 - steal0) / max(1, total1 - total0)}
    if args.trace:
        layer["host.calib_ms"] = ((calib0 + calib1) / 2, "ms")
        layer["host.steal_frac"] = (diag["host"]["steal_frac"], "frac")
        metrics = layer
    else:
        metrics = e2e
    print(json.dumps({"diag": diag}))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct and failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
