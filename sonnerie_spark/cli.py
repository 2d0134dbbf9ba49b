"""sonnerie-compatible CLI over the Spark engine.

Subcommand surface mirrors the reference CLI (main.rs:13-141):

- ``add DBDIR --format FMT``: read text-protocol lines from stdin,
  commit as one transaction (main.rs:344-354; O12).
- ``read DBDIR WILDCARD [filters] [output flags]``: merged, deduped,
  delete-filtered, (key, ts)-ordered dump (main.rs:187-329; O1-O10, O20).
- ``delete DBDIR WILDCARD [bounds]``: write a delete-marker transaction
  (main.rs:36-61; O11), ``--time T`` = the point range [T, T+1ns)
  (main.rs:173-176).
- ``compact DBDIR [--major] [--gegnum CMD]``: merge runs, optionally
  streaming every record as text through a shell command and re-ingesting
  its output (main.rs:397-499; O15/O16).

Scale notes: ``read`` streams partitions driver-side in order
(toLocalIterator — one partition in memory at a time); ``--parallel``
instead pipes each partition into its own subprocess on the executors
(O18, main.rs:234-279), which is the distributed path. ``--gegnum``
likewise pipes per-partition on the executors (rdd.pipe); partitions are
key-range-sorted so each subprocess sees a contiguous sorted slice — at
100 TB a single-process pipe would be the bottleneck, and the reference
itself parallelizes exactly this way for reads (rayon.rs:12-93).
"""

from __future__ import annotations

import argparse
import os
import sys

from sonnerie_spark import rowformat
from sonnerie_spark.db import MAX_TS, MIN_TS, Database, Transaction
from sonnerie_spark.session import get_spark


def _add_key_time_flags(p: argparse.ArgumentParser) -> None:
    p.add_argument("--after-key", help="inclusive lower key bound (Bound::Included)")
    p.add_argument("--before-key", help="exclusive upper key bound (Bound::Excluded)")
    p.add_argument(
        "--after-key-excl",
        help="exclusive lower key bound (Bound::Excluded — lib.rs:34-168)",
    )
    p.add_argument(
        "--before-key-incl",
        help="inclusive upper key bound (Bound::Included, as in get_range(a..=b))",
    )
    p.add_argument("--after-time", help="inclusive lower time bound (ISO or epoch-nanos)")
    p.add_argument("--before-time", help="exclusive upper time bound (ISO or epoch-nanos)")


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="sonnerie-spark")
    ap.add_argument("-d", "--db-dir", required=True)
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_add = sub.add_parser("add", help="ingest text-protocol lines from stdin")
    p_add.add_argument("--format", dest="fmt", help="row format for all lines (omit = per-line fmt column)")
    p_add.add_argument(
        "--timestamp-format",
        dest="ts_format",
        help="parse timestamps with this strftime pattern instead of epoch-nanos",
    )
    p_add.add_argument("--unsorted", action="store_true", help="accept unsorted input (external sort via Spark)")

    p_read = sub.add_parser("read", help="query records")
    p_read.add_argument("wildcard", nargs="?", default=None)
    _add_key_time_flags(p_read)
    p_read.add_argument("--columns", help="1-based column selection, e.g. 1,3,5-7")
    p_read.add_argument("--print-format", action="store_true", help="include the format string column")
    p_read.add_argument("--timestamp-format", default="%F %T")
    p_read.add_argument("--timestamp-nanos", action="store_true")
    p_read.add_argument("--timestamp-seconds", action="store_true")
    p_read.add_argument("--parallel", metavar="CMD", help="pipe each partition through CMD on the executors")
    p_read.add_argument(
        "--as-of",
        dest="as_of",
        help="time travel: read the snapshot as of this transaction "
        "(a run name from `stats`); snapshots older than the last "
        "compaction are unreachable",
    )
    p_read.add_argument(
        "--keys",
        help="comma-separated exact key set (multi-key fetch; applied "
        "below the merge so the scan bucket-prunes)",
    )

    p_del = sub.add_parser("delete", help="write a delete-marker transaction")
    p_del.add_argument("wildcard", nargs="?", default=None)
    _add_key_time_flags(p_del)
    p_del.add_argument("--time", help="delete exactly this timestamp ([T, T+1ns))")

    p_cmp = sub.add_parser("compact", help="merge transaction runs")
    p_cmp.add_argument("--major", action="store_true")
    p_cmp.add_argument("--gegnum", metavar="CMD", help="filter the merged stream through a shell command")
    p_cmp.add_argument(
        "--whole-stream",
        action="store_true",
        help="with --gegnum: ONE subprocess sees the entire sorted stream "
        "(reference semantics, required for cross-key stateful commands); "
        "default pipes each key-range partition in parallel",
    )
    p_cmp.add_argument(
        "--timestamp-format",
        dest="ts_format",
        help="with --gegnum: pipe timestamps in this strftime pattern instead of epoch-nanos",
    )

    p_dump = sub.add_parser("dump-run", help="debug: dump ONE run file, no merge/deletes (examples/get.rs)")
    p_dump.add_argument("run", help="run name, e.g. main or tx.<016x>")
    p_dump.add_argument("wildcard", nargs="?", default="%")

    sub.add_parser(
        "stats",
        help="database report from parquet footers (runs, rows, bytes, "
        "delete markers, buckets) — no Spark job",
    )

    p_exp = sub.add_parser(
        "export-parquet",
        help="write the merged, deduped, delete-filtered view as a plain "
        "parquet dataset (the off-ramp: any engine can read it)",
    )
    p_exp.add_argument("dest", help="output parquet directory")
    p_exp.add_argument("wildcard", nargs="?", default="%")
    p_exp.add_argument(
        "--as-of", dest="as_of",
        help="export a historical snapshot (run name from `stats`)",
    )

    p_imp = sub.add_parser(
        "import-parquet",
        help="commit a parquet dataset of records (RECORD_SCHEMA columns) "
        "as one transaction (the on-ramp)",
    )
    p_imp.add_argument("src", help="input parquet path")

    p_ej = sub.add_parser(
        "export-jsonl",
        help="write the merged view as JSON lines (key/ts/fmt/value "
        "columns, binary base64'd) — the interchange off-ramp for "
        "non-parquet consumers",
    )
    p_ej.add_argument("dest", help="output directory (Spark json sink)")
    p_ej.add_argument("wildcard", nargs="?", default="%")
    p_ej.add_argument(
        "--as-of", dest="as_of",
        help="export a historical snapshot (run name from `stats`)",
    )

    p_ij = sub.add_parser(
        "import-jsonl",
        help="commit JSON-lines records (the export-jsonl layout) as one "
        "transaction",
    )
    p_ij.add_argument("src", help="input JSONL path")

    p_roll = sub.add_parser(
        "rollup",
        help="incrementally refresh a continuous time-bucket aggregate "
        "(count/sum/min/max per key per interval) into DEST",
    )
    p_roll.add_argument("--dest", required=True, help="rollup database directory")
    p_roll.add_argument(
        "--interval",
        required=True,
        help="bucket width: <n>ns|us|ms|s|m|h|d (e.g. 1h) or raw nanoseconds",
    )
    p_roll.add_argument(
        "--full",
        action="store_true",
        help="rebuild from scratch (required after source deletes or a "
        "--gegnum transform compaction)",
    )
    p_roll.add_argument(
        "--source-is-rollup",
        action="store_true",
        help="DBDIR is itself a rollup: build a coarser cascade from it "
        "(aggregate-merge; --interval must be a multiple of the source "
        "rollup's interval, read from its cursor)",
    )
    p_roll.add_argument(
        "--num-values",
        type=int,
        default=1,
        help="aggregate the first N numeric values of each record "
        "independently (per-column n/sum/min/max); cascades inherit the "
        "source rollup's value count",
    )

    return ap


_INTERVAL_UNITS = {
    "ns": 1,
    "us": 10**3,
    "ms": 10**6,
    "s": 10**9,
    "m": 60 * 10**9,
    "h": 3600 * 10**9,
    "d": 86400 * 10**9,
}


def parse_interval(text: str) -> int:
    """'90s' / '15m' / '1h' / raw nanosecond count -> nanoseconds."""
    t = text.strip()
    for suffix in sorted(_INTERVAL_UNITS, key=len, reverse=True):
        if t.endswith(suffix):
            num = t[: -len(suffix)]
            if num.isdigit():
                return int(num) * _INTERVAL_UNITS[suffix]
    if t.isdigit():
        return int(t)
    raise SystemExit(f"rollup: cannot parse interval {text!r}")


def _ts_or(v: str | None, default: int) -> int:
    return rowformat.parse_timestamp(v) if v is not None else default


def _ts_style(args) -> str:
    # clap-parity conflict rules (main.rs:99-112): the style flags are
    # mutually exclusive, and a custom pattern conflicts with both.
    if args.timestamp_nanos and args.timestamp_seconds:
        raise SystemExit("read: --timestamp-nanos conflicts with --timestamp-seconds")
    if (args.timestamp_nanos or args.timestamp_seconds) and args.timestamp_format != "%F %T":
        raise SystemExit("read: --timestamp-format conflicts with --timestamp-nanos/seconds")
    if args.timestamp_nanos:
        return "nanos"
    if args.timestamp_seconds:
        return "seconds"
    return args.timestamp_format


def record_to_line(row, *, ts_style: str = "nanos", show_fmt: bool = True, columns=None) -> str:
    """Format one engine row (union-typed columns) as a text-protocol line."""
    values = rowformat.columns_to_values(
        row.fmt, row.v_long, row.v_double, row.v_str, row.v_bin
    )
    return rowformat.print_record(
        row.key, row.ts, row.fmt, values,
        ts_style=ts_style, show_fmt=show_fmt, columns=columns,
    )


def cmd_add(db: Database, args) -> int:
    if args.unsorted:
        # serve-PUT semantics (sonnerie-serve.rs:114-186): accept unsorted
        # lines, sort at commit. Duplicate (key, ts) within the batch is
        # still an error (write.rs:181-197 rule): commit_rows raises
        # DuplicateRecordError before anything is written.
        rows = [
            rowformat.parse_line(
                line, default_fmt=args.fmt, ts_format=args.ts_format
            ).as_row()
            for line in sys.stdin
            if line.strip()
        ]
        if rows:
            db.commit_rows(rows)
        return 0
    # Sorted mode rejects out-of-order keys like the reference's writer
    # (KeyOrderingViolation, write.rs:174-179) instead of silently
    # re-sorting the input — unsorted input must opt in via --unsorted.
    tx = Transaction(db, strict_order=True)
    for line in sys.stdin:
        if line.strip():
            tx.add_line(line, default_fmt=args.fmt, ts_format=args.ts_format)
    tx.commit()
    return 0


def _read_df(db: Database, args):
    return db.read_sorted(
        keys=args.keys.split(",") if getattr(args, "keys", None) else None,
        as_of=getattr(args, "as_of", None),
        wildcard=args.wildcard,
        after_key=args.after_key,
        before_key=args.before_key,
        after_key_excl=args.after_key_excl,
        before_key_incl=args.before_key_incl,
        after_ns=_ts_or(args.after_time, None) if args.after_time else None,
        before_ns=_ts_or(args.before_time, None) if args.before_time else None,
    )


def _require_filter(args, what: str, alternates: tuple[str, ...]) -> None:
    """The reference requires an explicit key filter unless one of the
    listed bounds is present (clap ``required_unless_present_any``;
    read: key bounds, main.rs:89-91; delete: any bound, main.rs:37-39)
    — notably so a bare ``delete`` cannot silently target the whole
    database."""
    if args.wildcard is None and all(
        getattr(args, a, None) is None for a in alternates
    ):
        raise SystemExit(f"{what}: a key filter or bound is required")


def cmd_read(db: Database, args) -> int:
    _require_filter(
        args,
        "read",
        ("after_key", "before_key", "after_key_excl", "before_key_incl", "keys"),
    )
    if args.wildcard is None:
        args.wildcard = "%"
    columns = rowformat.parse_columns_spec(args.columns) if args.columns else None
    ts_style = _ts_style(args)
    show_fmt = args.print_format

    if not args.parallel and not any(
        (args.after_key, args.before_key, args.after_key_excl,
         args.before_key_incl, getattr(args, "keys", None),
         getattr(args, "as_of", None))
    ):
        # pyarrow fast path (no Spark job) for exact keys and bounded
        # pure-prefix wildcards, formatted per column; None -> too
        # large or a mid-pattern wildcard, use the Spark plan.
        tbl = db.get_table(
            args.wildcard,
            after_ns=_ts_or(args.after_time, None) if args.after_time else None,
            before_ns=_ts_or(args.before_time, None) if args.before_time else None,
        )
        if tbl is not None:
            sys.stdout.write(
                rowformat.format_table(
                    tbl, ts_style=ts_style, show_fmt=show_fmt, columns=columns
                ).decode()
            )
            return 0

    df = _read_df(db, args)

    if args.parallel:
        # O18: per-partition subprocess fan-out on the executors. Each
        # worker formats its sorted slice and pipes it through CMD;
        # subprocess stdout is returned (and printed here in order).
        cmd = args.parallel
        shell = os.environ.get("SHELL", "/bin/sh")

        def fmt_partition(rows):
            for row in rows:
                yield record_to_line(row, ts_style=ts_style, show_fmt=show_fmt, columns=columns)

        piped = df.rdd.mapPartitions(fmt_partition).pipe(cmd, env={"SHELL": shell})
        for line in piped.toLocalIterator(prefetchPartitions=True):
            sys.stdout.write(line + "\n")
        return 0

    for row in df.toLocalIterator(prefetchPartitions=True):
        sys.stdout.write(record_to_line(row, ts_style=ts_style, show_fmt=show_fmt, columns=columns) + "\n")
    return 0


def cmd_delete(db: Database, args) -> int:
    _require_filter(
        args, "delete", ("after_key", "before_key", "after_time", "before_time", "time")
    )
    if args.after_key_excl or args.before_key_incl:
        # Delete markers store only Included(first)/Excluded(last) bounds
        # (the reference's delete CLI shape, main.rs:36-61) — reject the
        # other kinds instead of silently widening the deleted range.
        raise SystemExit("delete: only --after-key/--before-key bounds are supported")
    if args.time is not None:
        if args.after_time or args.before_time:
            # clap parity: --time conflicts with the range bounds
            # (main.rs:49-59 conflicts_with = "time")
            raise SystemExit("delete: --time conflicts with --after-time/--before-time")
        t = rowformat.parse_timestamp(args.time)
        after_ns, before_ns = t, t + 1  # [T, T+1ns) (main.rs:173-176)
    else:
        after_ns = _ts_or(args.after_time, MIN_TS)
        before_ns = _ts_or(args.before_time, MAX_TS)
    db.commit_deletes(
        [
            {
                "first_key": args.after_key or "",
                "last_key": args.before_key or "",
                "after_ns": after_ns,
                "before_ns": before_ns,
                "wildcard": args.wildcard or "%",
            }
        ]
    )
    return 0


def gegnum_transform(cmd: str, ts_format: str | None = None):
    """DataFrame transform piping records as text through a shell command.

    The distributed gegnum (O16): each key-range partition's sorted
    records are dumped in the text protocol (nanos timestamps by
    default, or ``ts_format`` strftime — main.rs gegnum
    --timestamp-format, printed AND re-parsed with it) to CMD's stdin;
    CMD's stdout lines are parsed back into records. Works for any
    filter/map/rename pipeline (README.md:190-216 examples: grep -v,
    sed).
    """
    from sonnerie_spark.db import RECORD_SCHEMA

    ts_style = ts_format if ts_format is not None else "nanos"

    def transform(df):
        def encode(rows):
            for row in rows:
                yield record_to_line(row, ts_style=ts_style, show_fmt=True)

        piped = df.rdd.mapPartitions(encode).pipe(cmd)

        def decode(lines):
            for line in lines:
                if line.strip():
                    yield rowformat.parse_line(line, ts_format=ts_format).as_row()

        return df.sparkSession.createDataFrame(piped.mapPartitions(decode), RECORD_SCHEMA)

    return transform


def gegnum_whole_stream_transform(db: Database, cmd: str, ts_format: str | None = None):
    """Whole-stream gegnum: the ENTIRE merged dump through ONE subprocess.

    Exact parity with the reference's gegnum (main.rs:429-477): a single
    ``sh -c CMD`` child sees every record, (key, ts)-sorted, on stdin —
    so cross-key stateful filters (a global ``uniq``/``awk '!seen[..]++'``
    dedup, a running counter) behave identically. The per-partition
    :func:`gegnum_transform` stays the parallel default; it silently
    changes semantics for such commands because each subprocess sees only
    its own key slice.

    Scale shape: the feed side streams ``toLocalIterator`` (one sorted
    partition resident at a time) into the child from a thread, and the
    child's stdout is parsed incrementally and spooled to Parquet chunk
    files under the db's ``.tmp-*`` namespace — driver memory stays
    bounded by one chunk regardless of database size. The subprocess
    itself is the sequential bottleneck by *definition* of the semantics
    (the reference is single-process here too); the returned DataFrame
    re-enters the distributed plan for the bucketed compaction rewrite.

    The spool directories are recorded on ``transform.spool_dirs`` for
    cleanup after the compaction commit (the stale-.tmp janitor reclaims
    them after a crash).
    """
    import subprocess
    import threading
    import time as _time

    from sonnerie_spark.db import RECORD_SCHEMA, arrow_record_schema

    ts_style = ts_format if ts_format is not None else "nanos"
    spool_dirs: list[str] = []

    def transform(df):
        import pyarrow as pa
        import pyarrow.parquet as pq

        proc = subprocess.Popen(
            ["/bin/sh", "-c", cmd],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        src = df.orderBy("key", "ts")
        feed_err: list[BaseException] = []

        def feed():
            try:
                for row in src.toLocalIterator(prefetchPartitions=True):
                    proc.stdin.write(
                        record_to_line(row, ts_style=ts_style, show_fmt=True) + "\n"
                    )
            except BrokenPipeError:
                pass  # child exited early (e.g. head); its rc decides
            except BaseException as e:
                feed_err.append(e)
            finally:
                try:
                    proc.stdin.close()
                except BrokenPipeError:
                    pass

        feeder = threading.Thread(target=feed, daemon=True)
        feeder.start()

        spool = os.path.join(db.path, f".tmp-gegnum-{_time.time_ns():x}")
        os.makedirs(spool)
        spool_dirs.append(spool)
        schema = arrow_record_schema()
        batch: list[dict] = []
        chunk = 0

        def flush():
            nonlocal chunk
            pq.write_table(
                pa.Table.from_pylist(batch, schema=schema),
                os.path.join(spool, f"chunk-{chunk:06d}.parquet"),
            )
            chunk += 1
            batch.clear()

        for line in proc.stdout:
            if line.strip():
                batch.append(rowformat.parse_line(line, ts_format=ts_format).as_row())
                if len(batch) >= 65536:
                    flush()
        feeder.join()
        rc = proc.wait()
        if rc != 0:
            raise RuntimeError(f"gegnum command failed (rc={rc}): cancelling compact")
        if feed_err:
            raise feed_err[0]
        if batch or chunk == 0:  # always leave >=1 file so the scan is well-formed
            flush()
        return db.spark.read.schema(RECORD_SCHEMA).parquet(spool)

    transform.spool_dirs = spool_dirs
    return transform


def cmd_compact(db: Database, args) -> int:
    transform = None
    if args.gegnum:
        if args.whole_stream:
            transform = gegnum_whole_stream_transform(db, args.gegnum, args.ts_format)
        else:
            transform = gegnum_transform(args.gegnum, args.ts_format)
    try:
        db.compact(major=args.major, transform=transform)
    finally:
        import shutil

        for d in getattr(transform, "spool_dirs", []):
            shutil.rmtree(d, ignore_errors=True)
    return 0


def cmd_dump_run(db: Database, args) -> int:
    """O23: dump one transaction run raw — no merge, no delete filtering
    (the reference's examples/get.rs debugging tool)."""
    from pyspark.sql import functions as F

    from sonnerie_spark.db import RECORD_SCHEMA
    from sonnerie_spark.plans.keyfilter import analyze_wildcard, prefix_upper_bound

    run = next((r for r in db.data_runs() if r.name == args.run), None)
    if run is None:
        print(f"no such data run: {args.run}", file=sys.stderr)
        return 1
    df = db.spark.read.schema(RECORD_SCHEMA).parquet(run.path)
    kf = analyze_wildcard(args.wildcard)
    if kf.exact is not None:
        df = df.filter(F.col("key") == kf.exact)
    elif kf.prefix:
        df = df.filter(F.col("key") >= kf.prefix)
        ub = prefix_upper_bound(kf.prefix)
        if ub is not None:
            df = df.filter(F.col("key") < ub)
    if kf.exact is None and kf.needs_like:
        df = df.filter(F.col("key").like(kf.pattern))
    for row in df.orderBy("key", "ts").toLocalIterator(prefetchPartitions=True):
        sys.stdout.write(record_to_line(row, ts_style="nanos", show_fmt=True) + "\n")
    return 0


def cmd_export_parquet(db: Database, args) -> int:
    """Off-ramp: one sorted write of the merged view. The dataset is
    self-describing (union-typed value columns + fmt tag), so DuckDB /
    pandas / any parquet reader can consume it without this engine."""
    db.read_sorted(
        wildcard=args.wildcard, as_of=getattr(args, "as_of", None)
    ).write.mode("error").parquet(args.dest)
    return 0


def cmd_import_parquet(db: Database, args) -> int:
    """On-ramp: any parquet dataset with RECORD_SCHEMA columns becomes
    one committed transaction (sorted, bucketed, atomic); duplicate
    (key, ts) rows in the input are rejected like any other commit."""
    df = db.spark.read.parquet(args.src)
    missing = {f.name for f in __import__("sonnerie_spark.db", fromlist=["RECORD_SCHEMA"]).RECORD_SCHEMA.fields} - set(df.columns)
    if missing:
        raise SystemExit(f"import-parquet: input lacks columns {sorted(missing)}")
    print(db.commit_dataframe(df))
    return 0


def cmd_export_jsonl(db: Database, args) -> int:
    """JSONL off-ramp: the merged view with binary base64'd (JSON has no
    bytes type); ``import-jsonl`` reverses it losslessly. Stays a plain
    distributed write — one sorted pass, the json sink shards like any
    Spark output."""
    from pyspark.sql import functions as F

    df = db.read_sorted(
        wildcard=args.wildcard, as_of=getattr(args, "as_of", None)
    )
    df = df.withColumn(
        "v_bin_b64",
        F.transform(F.col("v_bin"), lambda b: F.base64(b)),
    ).drop("v_bin")
    df.write.mode("error").json(args.dest)
    return 0


def cmd_import_jsonl(db: Database, args) -> int:
    """JSONL on-ramp: reads the export-jsonl layout with an EXPLICIT
    schema (never inferred — a batch whose sampled lines all carry null
    arrays must not change column types) and commits one transaction."""
    from pyspark.sql import functions as F, types as T

    from sonnerie_spark.db import RECORD_SCHEMA

    fields = [
        f for f in RECORD_SCHEMA.fields if f.name != "v_bin"
    ] + [T.StructField("v_bin_b64", T.ArrayType(T.StringType()), True)]
    df = db.spark.read.schema(T.StructType(fields)).json(args.src)
    df = df.withColumn(
        "v_bin",
        F.transform(F.col("v_bin_b64"), lambda s: F.unbase64(s)),
    ).drop("v_bin_b64")
    print(db.commit_dataframe(df))
    return 0


def cmd_stats(db: Database, args) -> int:
    s = db.stats()
    for r in s["runs"]:
        print(f"{r['name']}\t{r['files']} files\t{r['rows']} rows\t{r['bytes']} bytes")
    print(
        f"total\t{s['n_runs']} runs\t{s['total_rows']} rows\t"
        f"{s['total_bytes']} bytes\t{s['delete_markers']} delete-markers\t"
        f"{s['buckets']} buckets"
    )
    return 0


def cmd_rollup(db: Database, args) -> int:
    """Refresh (or rebuild with --full) a continuous aggregate of this
    database into --dest (streaming/rollup.py); with --source-is-rollup,
    DBDIR is a finer rollup and --dest becomes its coarser cascade."""
    import json

    from sonnerie_spark.streaming.rollup import CURSOR_FILE, ContinuousRollup

    interval = parse_interval(args.interval)
    if getattr(args, "source_is_rollup", False):
        try:
            with open(os.path.join(db.path, CURSOR_FILE)) as f:
                cur = json.load(f)
                finer_interval = int(cur["interval_ns"])
        except (OSError, ValueError, KeyError):
            raise SystemExit(
                f"rollup: {db.path} has no readable rollup cursor "
                "(--source-is-rollup needs a refreshed rollup as source)"
            )
        if interval % finer_interval != 0:
            raise SystemExit(
                f"rollup: --interval {interval} is not a multiple of the "
                f"source rollup's {finer_interval}"
            )
        roll = ContinuousRollup(
            db,
            args.dest,
            interval_ns=interval,
            source_is_rollup=True,
            # a cascade merges the finer rollup's records, so its value
            # count is dictated by the source, not the flag
            num_values=int(cur.get("num_values", 1)),
        )
    else:
        roll = ContinuousRollup(
            db,
            args.dest,
            interval_ns=interval,
            num_values=getattr(args, "num_values", 1),
        )
    tx = roll.refresh_full() if args.full else roll.refresh()
    print(tx if tx is not None else "up-to-date")
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    spark = get_spark("sonnerie-cli")
    db = Database(spark, args.db_dir)
    return {
        "add": cmd_add,
        "read": cmd_read,
        "delete": cmd_delete,
        "compact": cmd_compact,
        "dump-run": cmd_dump_run,
        "rollup": cmd_rollup,
        "stats": cmd_stats,
        "export-parquet": cmd_export_parquet,
        "import-parquet": cmd_import_parquet,
        "export-jsonl": cmd_export_jsonl,
        "import-jsonl": cmd_import_jsonl,
    }[args.cmd](db, args)


if __name__ == "__main__":
    sys.exit(main())
