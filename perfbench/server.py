"""Benchmark-owned server entry: the library's HTTP server started the
way a library user starts it, plus a control channel for the load
generator.

    python3 perfbench/server.py --db DIR --workload W --seed N --trace 0|1

Start-up: ``get_spark()`` + ``Database(spark, DIR)`` + ``make_server``
on an ephemeral port, serving from a background thread. A traced run
also times Spark operations (the bulk phase), so before reporting ready
it pays their one-time costs (JIT, codegen) on a scratch database.
Commands then arrive as JSON lines on stdin and are answered as
``@@ {json}`` lines on stdout (Spark logs go to stderr):

- ``{"cmd": "trace", "on": bool}``  switch tracing on or off;
- ``{"cmd": "state"}``              run count and on-disk run bytes;
- ``{"cmd": "bulk", "cycles": n}``  the bulk phase (``bulk()``);
- ``{"cmd": "stats", "dump": path}`` memory high-water marks, trace dump.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402
from perfbench.trace import Tracer, install  # noqa: E402

clock = time.perf_counter
FOLDS = 3  # per bulk cycle


def vm_hwm_mb(pid="self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for ln in f:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM")


def reply(obj) -> None:
    sys.stdout.write("@@ " + json.dumps(obj) + "\n")
    sys.stdout.flush()


class SparkOps:
    """Timed Spark operations with job/stage/task attribution.

    Each timed op runs under its own job group; the status tracker then
    gives exact job and task counts. A JVM GC before each op keeps one
    op's garbage from being collected inside the next one's timer."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0

    def run(self, name, fn):
        self.sc._jvm.System.gc()
        self.n += 1
        group = f"perfbench-{name}-{self.n}"
        self.sc.setJobGroup(group, name)
        t0 = clock()
        try:
            out = fn()
        finally:
            dt = clock() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        # job events reach the status store through the asynchronous
        # listener bus: drain it so the counts are complete
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                tasks += si.numTasks if si else 0
        return out, dt, len(jobs), tasks


def scan(db):
    """Materialized multi-run scan: count + sum(size(v_long))."""
    from pyspark.sql import functions as F

    t0 = clock()
    df = db.read()
    plan_s = clock() - t0
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.size("v_long")).alias("m")
    ).collect()[0]
    return int(row["n"]), int(row["m"] or 0), plan_s


def run_bytes(path: str) -> int:
    """On-disk bytes of the committed runs (``main`` and ``tx.*``)."""
    total = 0
    for name in os.listdir(path):
        if name == "main" or name.startswith("tx."):
            for root, _d, files in os.walk(os.path.join(path, name)):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def bulk(db, ops: SparkOps, tracer: Tracer, workload: str, seed: int,
         cycles: int) -> list[dict]:
    """``cycles`` bulk cycles: one sorted ``Transaction.add_line`` load,
    one delete commit, a timed scan of the multi-run state,
    ``compact(major=True)``, then FOLDS ``agg_series()`` calls on the
    compacted result."""
    from sonnerie_spark.db import Transaction

    out = []
    for cycle in range(cycles):
        lines, marker = gen.bulk_cycle(workload, seed, cycle)
        ctx = tracer.begin(f"load-{cycle}", "load")
        t0 = clock()
        tx = Transaction(db, strict_order=True)
        for ln in lines:
            tx.add_line(ln)
        tx.commit()
        rec = {"cycle": cycle, "load_s": clock() - t0, "load_lines": len(lines)}
        tracer.end(ctx)
        db.commit_deletes([marker])

        ctx = tracer.begin(f"scan-{cycle}", "scan")
        (n, m, plan_s), dt, jobs, tasks = ops.run("scan", lambda: scan(db))
        tracer.end(ctx)
        rec.update(scan_n=n, scan_m=m, scan_s=dt, scan_plan_s=plan_s,
                   scan_jobs=jobs, scan_tasks=tasks)

        ctx = tracer.begin(f"compact-{cycle}", "compact")
        _, dt, jobs, tasks = ops.run("compact", lambda: db.compact(major=True))
        tracer.end(ctx)
        rec.update(compact_s=dt, compact_jobs=jobs, compact_tasks=tasks,
                   bytes_after=run_bytes(db.path))

        fold_s, fold_jobs = [], []
        for _ in range(FOLDS):
            ctx = tracer.begin(f"fold-{cycle}", "fold")
            res, dt, jobs, _t = ops.run("fold", db.agg_series)
            tracer.end(ctx)
            fold_s.append(dt)
            fold_jobs.append(jobs)
        rec.update(fold_s=fold_s, fold_jobs=fold_jobs,
                   fold=[[r["key"], r["n"], r["sum"], r["min"], r["max"]] for r in res])
        out.append(rec)
    return out


def warm_up(spark, path: str) -> None:
    """Run every Spark plan the bulk phase times once, on a scratch DB."""
    from sonnerie_spark.db import Database, Transaction

    db = Database(spark, path)
    for c in range(2):
        tx = Transaction(db, strict_order=True)
        for k in range(200):
            for j in range(5):
                tx.add_line(gen.line(f"w{k:04d}", gen.T0 + (c * 5 + j) * gen.STEP, j))
        tx.commit()
    db.commit_deletes([{"first_key": "w0001", "last_key": "w0002"}])
    scan(db)
    db.compact(major=True)
    db.agg_series()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--db", required=True)
    ap.add_argument("--warm-db", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    from sonnerie_spark.db import Database
    from sonnerie_spark.serve import make_server
    from sonnerie_spark.session import get_spark

    tracer = Tracer()
    t0 = clock()
    spark = get_spark("perfbench")
    session_start_s = clock() - t0
    db = Database(spark, args.db, durable=True)
    srv = make_server(db, "127.0.0.1", 0)
    t0 = clock()
    if args.trace:  # only traced runs time Spark operations
        install(tracer, srv.RequestHandlerClass)
        warm_up(spark, args.warm_db)
    warm_s = clock() - t0
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    reply({"ready": srv.server_address[1], "jvm_pid": jvm_pid,
           "session_start_s": session_start_s, "warm_s": warm_s})

    ops = SparkOps(spark)
    for ln in sys.stdin:
        cmd = json.loads(ln)
        c = cmd["cmd"]
        if c == "trace":
            tracer.on = bool(cmd["on"])
            reply({"ok": True})
        elif c == "state":
            reply({"runs": len(db.run_names()), "bytes": run_bytes(db.path)})
        elif c == "bulk":
            tracer.on = bool(args.trace)
            cycles = bulk(db, ops, tracer, args.workload, args.seed, cmd["cycles"])
            reply({"cycles": cycles})
        elif c == "stats":
            if cmd.get("dump"):
                tracer.dump(cmd["dump"])
            reply({
                "peak_rss_mb": vm_hwm_mb(),
                "jvm_peak_rss_mb": vm_hwm_mb(jvm_pid),
                "contexts": [
                    {"req": x.req, "kind": x.kind, "traced": x.traced,
                     "ctr": dict(x.ctr)}
                    for x in tracer.contexts
                ],
            })
    return 0


if __name__ == "__main__":
    sys.exit(main())
