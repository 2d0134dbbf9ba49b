"""Database: a directory of immutable Parquet runs with LSM read semantics.

Layout (mirrors the reference's directory-of-runs model,
database_reader.rs:44-132 / file_format.md:92-99, re-expressed for Spark):

    db_dir/
      main/                 # txid-order 0 (rewritten only by major compaction)
      tx.<016x-hex-nanos>/  # one Parquet run per committed transaction
      tx.<016x>/DELETE_MARKER + deletes.parquet   # delete-marker transaction
      .tmp-*/               # in-flight writes (ignored by readers)

Transaction order is the lexical order of the run names — ``main`` sorts
before every ``tx.*`` so it naturally takes the lowest precedence, and
zero-padded hex commit-nanos make lexical order == commit order (the
reference's ``tx.{nanos:016x}`` naming, create_tx.rs:229-262). On
``(key, ts)`` collisions the lexically-last run wins ("last record
wins", README.md:33-34).

Scale notes (local[N] here, 1000 executors in production):

- Every run is hash-bucketed by key into a fixed database-wide B
  (bucketing.py): Spark's bucket function, Spark's bucket file naming.
  A multi-run read goes through an external bucketed table over a
  hard-linked view of all run files, so the scan reports
  ``HashPartitioning(key, B)``, each bucket's k per-run files land in
  ONE task, and the LWW dedup below needs NO Exchange — the k-way LSM
  merge (merge.rs:48-181) runs bucket-locally, declared to Catalyst
  instead of hand-scheduled. The run name is recovered JVM-side from
  ``input_file_name()`` so the last-writer-wins ordering key costs no
  Python round-trip.
- Files are ``sortBy(key, ts)`` within buckets so Parquet row-group
  min/max stats on ``key``/``ts`` are tight; Catalyst's predicate
  pushdown prunes row groups — the declarative replacement for the
  reference's binary-searched sparse segment index
  (segment_reader.rs:173-234) — and exact-key predicates additionally
  prune to 1/B of the bucket files.
- LWW dedup is an aggregation (``max_by``) keyed on ``(key, ts)``:
  bucket-local (no shuffle) on a bucketed multi-run read, two-phase
  with map-side partials on legacy/mixed layouts; when the database has
  a single data run (the common post-compaction state) the dedup stage
  is skipped entirely.
- Delete markers are tiny (one row per delete call); they are applied as
  an inlined literal predicate (pure codegen, no join, no shuffle), with
  a broadcast anti-join fallback above a threshold.
"""

from __future__ import annotations

import os
import re
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from sonnerie_spark import rowformat
from sonnerie_spark.fsutil import fsync_dir, fsync_tree
from sonnerie_spark.bucketing import (
    BUCKETS_FILE,
    bucket_file_name,
    bucket_of,
    parse_bucket_id,
    read_run_buckets,
    read_run_unique,
    write_run_buckets,
    write_run_unique,
)
from sonnerie_spark.plans.keyfilter import (
    analyze_wildcard,
    prefix_upper_bound,
    to_like_pattern,
)

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("ts", T.LongType(), False),  # ns since epoch (NOT TimestampType)
        T.StructField("fmt", T.StringType(), False),
        T.StructField("v_long", T.ArrayType(T.LongType()), True),
        T.StructField("v_double", T.ArrayType(T.DoubleType()), True),
        T.StructField("v_str", T.ArrayType(T.StringType()), True),
        T.StructField("v_bin", T.ArrayType(T.BinaryType()), True),
    ]
)

DELETE_SCHEMA = T.StructType(
    [
        T.StructField("first_key", T.StringType(), False),
        T.StructField("last_key", T.StringType(), False),  # '' = unbounded
        T.StructField("after_ns", T.LongType(), False),
        T.StructField("before_ns", T.LongType(), False),
        T.StructField("wildcard", T.StringType(), False),
    ]
)

def arrow_record_schema():
    """RECORD_SCHEMA's pyarrow twin, for driver-side parquet writers
    (commit_rows, the whole-stream gegnum spool) — files written with it
    are indistinguishable from Spark-written run files."""
    import pyarrow as pa

    return pa.schema(
        [
            pa.field("key", pa.string(), False),
            pa.field("ts", pa.int64(), False),
            pa.field("fmt", pa.string(), False),
            pa.field("v_long", pa.list_(pa.int64())),
            pa.field("v_double", pa.list_(pa.float64())),
            pa.field("v_str", pa.list_(pa.string())),
            pa.field("v_bin", pa.list_(pa.binary())),
        ]
    )


_TX_NAME_RE = re.compile(r"^(main|tx\.[0-9a-f]{16})$")
DELETE_SENTINEL = "DELETE_MARKER"

# Compaction swap plan (crash recovery): the hide -> publish -> purge
# sequence is multiple renames, so the plan is persisted first and the
# recovery rule (_recover_compact_plan) rolls an interrupted swap back
# or forward. The name is NOT under .tmp-* on purpose: the janitor must
# never reap it.
COMPACT_PLAN = ".compact-plan.json"
# Above this many live delete markers, switch from an inlined literal
# predicate to a broadcast anti-join.
MAX_INLINE_DELETES = 64
# Parquet row-group target (writer-buffered bytes). The reference cuts
# ~1 MiB uncompressed segments as its sparse-index granularity
# (write.rs:9 SEGMENT_SIZE_GOAL); we size for the same purpose — point
# reads prune to a small slice of a file via row-group stats. The
# writer's buffered-size estimate runs well under the on-disk
# uncompressed size for dictionary/RLE-friendly data. Measured on a
# 20 M-row one-lane u64 run (tools/fold_scale.py shape): 256 KiB
# buffered cuts ~7.5k-row groups whose per-group decode overhead
# (page headers, dict pages, group setup) capped two-column whole-run
# scans at ~22 M rec/s single-thread; 512 KiB cuts ~15k-row groups
# that scan 1.5x faster (32 M rec/s) while a FULL-WIDTH single-group
# decode — the point lookup's unit of work — costs the same 3.8 ms a
# 7.5k-row group did (zstd page setup dominates, not row count), so
# lookup latency is flat. Larger targets are a cliff, not a dial: the
# writer's row-count check interval makes 1 MiB flush ~330k-row
# groups, which doubled the 2000-record warm lookup. Keep this knob
# paired with those two measurements.
ROW_GROUP_BYTES = 512 * 1024

# Run-file compression. The reference compresses record blocks with
# lz4 (write.rs); we use parquet zstd for every run writer — measured
# against snappy (Spark's default) on a 20 M-row compacted-run shape,
# zstd decodes 1.3-3.6x FASTER *and* writes smaller files (snappy
# barely compresses dictionary index pages and is slow to decode
# them), which feeds straight into the driver-side fold and every
# Spark scan. A storage knob only: every reader decodes any parquet
# codec transparently.
RUN_COMPRESSION = "zstd"

MIN_TS = 0
MAX_TS = 2**63 - 1


class CommitError(RuntimeError):
    pass


class DuplicateRecordError(CommitError):
    """Duplicate (key, ts) within one transaction (write.rs:181-197 rule)."""


@dataclass(frozen=True)
class RunInfo:
    name: str  # 'main' or 'tx.<016x>'
    path: str
    is_delete: bool


class Database:
    """Open a database directory; build declarative read plans over it."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        buckets: int | None = None,
        durable: bool = True,
    ):
        # durable=True (default) fsyncs run files before the publishing
        # rename and the db dir after it — the reference's power-loss
        # contract (create_tx.rs:210-264), measured ~9% on the 2M-row
        # bulk-insert anchor (best-of-3 medians 1.11 s -> 1.21 s).
        # durable=False keeps only process-kill atomicity, for ingests
        # that can be re-run from source.
        self.spark = spark
        self.durable = bool(durable)
        self.path = os.path.abspath(path)
        self._point_reader = None  # lazy PointReader (exact-key fast path)
        self._view_tables: dict[str, str] = {}  # run-set sig -> table name
        self._last_view_gc = 0.0  # rate limit for the reuse-path sweep
        os.makedirs(self.path, exist_ok=True)
        self.buckets = self._resolve_buckets(buckets)
        self._heal_compact_crash()

    def _heal_compact_crash(self) -> None:
        """Open-time recovery for a compactor that died mid-swap: until
        the plan is resolved, the database can list ZERO visible runs
        (the data hidden under .tmp-old-*) — every read would silently
        see an empty database. Cheap in the common case (one stat);
        non-blocking on the compaction lock — if it is held, a LIVE
        compactor owns the plan and will clear it."""
        if not os.path.exists(os.path.join(self.path, COMPACT_PLAN)):
            return
        import fcntl

        lock_fd = os.open(
            os.path.join(self.path, ".compact"), os.O_CREAT | os.O_RDWR
        )
        try:
            try:
                fcntl.flock(lock_fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                return  # a live compactor holds the lock and the plan
            self._recover_compact_plan()
        finally:
            os.close(lock_fd)

    def _resolve_buckets(self, requested: int | None) -> int:
        """Fixed database-wide bucket count B (bucketing.py rationale).

        Persisted once at creation in ``db_dir/BUCKETS`` so every writer
        — Spark jobs and the driver-side pyarrow path — uses the same
        bucket function forever; a later ``buckets=`` argument is
        ignored for an existing database (like the reference's immutable
        file-format parameters)."""
        meta = os.path.join(self.path, BUCKETS_FILE)
        try:
            with open(meta) as f:
                return max(1, int(f.read().strip()))
        except (OSError, ValueError):
            pass
        b = requested
        if b is None:
            b = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        b = max(1, int(b))
        try:
            fd = os.open(meta, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as f:
                f.write(str(b))
            return b
        except FileExistsError:  # concurrent creator won: adopt its B
            with open(meta) as f:
                return max(1, int(f.read().strip()))

    # -- manifest ----------------------------------------------------------

    def runs(self) -> list[RunInfo]:
        """Enumerate committed runs in txid (lexical) order.

        Skips in-flight ``.tmp-*`` dirs and warns-equivalent skips empty
        dirs, like the reference's readdir (database_reader.rs:60-131).
        """
        listing = sorted(os.listdir(self.path))
        if COMPACT_PLAN in listing:
            # a dead compactor's unresolved swap: until healed, this
            # listing could show ZERO visible runs (data hidden under
            # .tmp-old-*) — a long-lived handle (serve) must not serve
            # that view. Non-blocking: if the compaction lock is held,
            # a LIVE compactor owns the plan and the swap is mid-flight
            # (microseconds), the normal reader race.
            self._heal_compact_crash()
            listing = sorted(os.listdir(self.path))
        out: list[RunInfo] = []
        for name in listing:
            if not _TX_NAME_RE.match(name):
                continue
            p = os.path.join(self.path, name)
            try:
                entries = os.listdir(p)  # one pass: classify + data check
            except (NotADirectoryError, OSError):
                continue
            is_delete = False
            has_data = False
            for f in entries:
                if f == DELETE_SENTINEL:
                    is_delete = True
                elif f == "_SUCCESS" or f.endswith(".parquet"):
                    has_data = True
            if not has_data:
                continue
            out.append(RunInfo(name, p, is_delete))
        return out

    def run_names(self) -> list[str]:
        """Cheap run-set fingerprint: the sorted top-level transaction
        names, WITHOUT per-run classification (no second-level listdir).
        Complete run dirs only ever appear/disappear via atomic renames,
        so two equal fingerprints bracket a window with no commit or
        compaction swap — the point reader's consistency probe.
        ``DirEntry.is_dir()`` answers from the readdir d_type (following
        symlinks like ``os.path.isdir``), so no entry is stat'ed."""

        def scan() -> list[os.DirEntry]:
            with os.scandir(self.path) as it:
                return list(it)

        entries = scan()
        if any(e.name == COMPACT_PLAN for e in entries):
            self._heal_compact_crash()  # see runs(): never serve the
            entries = scan()  # mid-swap zero-run view
        return sorted(
            e.name for e in entries if _TX_NAME_RE.match(e.name) and e.is_dir()
        )

    def data_runs(self) -> list[RunInfo]:
        return [r for r in self.runs() if not r.is_delete]

    def delete_markers(self, runs: list["RunInfo"] | None = None) -> list[dict]:
        """Load delete markers (tiny) to the driver, tagged with txname.

        ``runs``: an already-taken run listing to read from — callers
        holding a listing (the point reader's retry loop) pass it so one
        snapshot serves the whole attempt and no second readdir runs."""
        markers: list[dict] = []
        for r in self.runs() if runs is None else runs:
            if not r.is_delete:
                continue
            import pyarrow.parquet as pq

            tbl = pq.read_table(os.path.join(r.path, "deletes.parquet"))
            for row in tbl.to_pylist():
                row["_txname"] = r.name
                markers.append(row)
        return markers

    # -- bucketed multi-run scan -------------------------------------------

    _VIEW_TTL_SECONDS = 600.0

    def _bucketed_files(self, runs: list[RunInfo]) -> list[tuple[str, str]] | None:
        """(run_name, file_name) for every data file, or None unless ALL
        runs were written at the CURRENT bucket count B (per-run ``B``
        marker, bucketing.py) and all files carry a valid bucket id.
        Mixed/legacy/rebucket-in-flight layouts fall back to the
        shuffle-dedup read — bucket ids alone can't prove alignment:
        after ``rebucket()`` to a larger B, old-B file ids all sit below
        the new B, so pruning by them would silently drop rows."""
        out: list[tuple[str, str]] = []
        for r in runs:
            if read_run_buckets(r.path) != self.buckets:
                return None
            for name in sorted(os.listdir(r.path)):
                if not name.endswith(".parquet"):
                    continue
                b = parse_bucket_id(name)
                if b is None or b >= self.buckets:
                    return None
                out.append((r.name, name))
        return out or None

    def _bucketed_table(self, runs: list[RunInfo], files: list[tuple[str, str]]) -> DataFrame:
        """Expose the given runs as ONE external bucketed table.

        A view directory of hard links (``.cache/view-<sig>``) flattens
        the per-run files into one location, each link named
        ``<run>+<original>`` so (a) Spark still parses the bucket id
        from the preserved suffix and (b) ``input_file_name()`` recovers
        the transaction for LWW ordering. ``CLUSTERED BY (key)`` makes
        FileSourceScan report ``HashPartitioning(key, B)`` and coalesce
        each bucket's k per-run files into one task — the downstream
        ``groupBy(key, ts)`` dedup then runs with NO Exchange
        (plan-asserted in tests/test_plans.py). Hard links also make the
        view immune to compaction's hidden-rename swap: the inodes stay
        live for in-flight readers of an older snapshot.
        """
        import hashlib

        sig = hashlib.sha1(
            ("\n".join(f"{rn}/{fn}" for rn, fn in files) + f"#{self.buckets}").encode()
        ).hexdigest()[:12]
        cache = os.path.join(self.path, ".cache")
        view = os.path.join(cache, f"view-{sig}")
        for _ in range(3):
            if not os.path.isdir(view):
                os.makedirs(cache, exist_ok=True)
                tmp = os.path.join(cache, f".build-{os.getpid()}-{time.time_ns():x}")
                os.makedirs(tmp)
                by_run = {r.name: r.path for r in runs}
                for rn, fn in files:
                    os.link(
                        os.path.join(by_run[rn], fn), os.path.join(tmp, f"{rn}+{fn}")
                    )
                try:
                    os.rename(tmp, view)
                except OSError:  # concurrent builder won
                    shutil.rmtree(tmp, ignore_errors=True)
                self._gc_stale_views(keep=view)
            # Mark the view in-use: the TTL reaper keys on mtime, so an
            # actively-read view never ages into reapability while
            # queries keep planning against it (a reaped dir makes the
            # table's scan SILENTLY list zero files — worse than an
            # error; caught by the concurrent-handle churn test). A
            # failed touch means a concurrent reaper beat us between the
            # isdir probe and here — rebuild, don't plan on a dead dir.
            try:
                os.utime(view)
            except OSError:
                continue
            # Steady-state reads reuse one view forever; without an
            # occasional sweep here, tables for long-replaced run sets
            # would only be dropped when the NEXT new view is built.
            # Rate-limited to one sweep per TTL so the per-read cost is
            # a clock comparison.
            now = time.time()
            if now - self._last_view_gc > self._VIEW_TTL_SECONDS:
                self._last_view_gc = now
                self._gc_stale_views(keep=view)
            break
        else:
            raise RuntimeError(f"bucketed view kept racing the reaper: {view}")

        tbl = self._view_tables.get(sig)
        # Never trust the name cache alone: another Database handle on
        # the same Spark session may have TTL-reaped this sig's table
        # (_gc_stale_views DROPs by content-addressed name), so a cache
        # hit must be revalidated against the catalog or the next
        # spark.table() would fail on a dropped table.
        if tbl is not None and not self.spark.catalog.tableExists(tbl):
            self._view_tables.pop(sig, None)
            tbl = None
        if tbl is None:
            tbl = f"snk_v_{hashlib.sha1(self.path.encode()).hexdigest()[:8]}_{sig}"
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in RECORD_SCHEMA.fields
            )
            self.spark.sql(
                f"CREATE TABLE IF NOT EXISTS `{tbl}` ({cols}) USING parquet "
                f"CLUSTERED BY (key) SORTED BY (key, ts) INTO {self.buckets} BUCKETS "
                f"LOCATION '{view}'"
            )
            self._view_tables[sig] = tbl
        return self.spark.table(tbl)

    def _gc_stale_views(self, keep: str | None = None) -> None:
        """Reap view dirs not USED within the TTL (reads touch their
        mtime), and DROP their catalog tables — without the drop a
        long-lived session/metastore accumulates dead ``snk_v_*`` names
        without bound. Hard links mean this only frees names, never data
        another run dir still owns.

        Safety against concurrent handles: besides ``keep`` (the
        caller's just-built view), the CURRENT run set's view is never
        reaped regardless of age — another handle may be mid-query on it
        (its reads refresh the mtime, but a commit can land between that
        handle's listing and this GC). The residual window — a query
        whose execution starts more than TTL after its last view touch,
        on a sig that is no longer current — is the same re-plan-on-loss
        contract compaction already imposes on readers."""
        import hashlib

        cache = os.path.join(self.path, ".cache")
        try:
            names = os.listdir(cache)
        except OSError:
            return
        now = time.time()
        phash = hashlib.sha1(self.path.encode()).hexdigest()[:8]
        current_sig = None
        try:
            runs = self.data_runs()
            files = self._bucketed_files(runs) if len(runs) > 1 else None
            if files is not None:
                current_sig = hashlib.sha1(
                    ("\n".join(f"{rn}/{fn}" for rn, fn in files)
                     + f"#{self.buckets}").encode()
                ).hexdigest()[:12]
        except OSError:
            pass
        for name in names:
            p = os.path.join(cache, name)
            if p == keep or (current_sig and name == f"view-{current_sig}"):
                continue
            try:
                if now - os.stat(p).st_mtime > self._VIEW_TTL_SECONDS:
                    shutil.rmtree(p, ignore_errors=True)
                    if name.startswith("view-"):
                        sig = name[len("view-"):]
                        # Table names are content-addressed from (db
                        # path, run-set sig), so the catalog entry is
                        # reconstructible even if another handle made it.
                        self.spark.sql(
                            f"DROP TABLE IF EXISTS `snk_v_{phash}_{sig}`"
                        )
                        self._view_tables.pop(sig, None)
            except OSError:
                pass

    def _scan_data_runs(self, runs: list[RunInfo]) -> tuple[DataFrame, bool, "F.Column"]:
        """One DataFrame over ``runs``, WITHOUT ``_txname`` attached.

        Returns ``(df, bucket_aligned, txname_col)``. The caller must
        apply its key/ts filters BEFORE projecting ``txname_col``:
        ``input_file_name()`` is non-deterministic, and a projection
        containing it blocks Catalyst from pushing any predicate through
        it to the scan (killing both PushedFilters and bucket pruning).
        When aligned, the scan's HashPartitioning(key, B) makes the LWW
        dedup (and any groupBy/join on key) exchange-free, and a
        bucket-aligned run write needs no repartition. Single-run reads
        keep the plain parquet scan: no dedup is planned, and size-based
        split planning parallelizes better than B fixed tasks.
        """
        if len(runs) > 1:
            files = self._bucketed_files(runs)
            if files is not None:
                txcol = F.regexp_extract(
                    F.input_file_name(), r"/(main|tx\.[0-9a-f]{16})\+[^/]+$", 1
                )
                return self._bucketed_table(runs, files), True, txcol
        df = self.spark.read.schema(RECORD_SCHEMA).parquet(*[r.path for r in runs])
        txcol = F.regexp_extract(
            F.input_file_name(), r"/(main|tx\.[0-9a-f]{16})/[^/]+$", 1
        )
        return df, False, txcol

    # -- read plan ---------------------------------------------------------

    def read(
        self,
        *,
        key: str | None = None,
        keys: list[str] | None = None,
        wildcard: str | None = None,
        after_key: str | None = None,
        before_key: str | None = None,
        after_key_excl: str | None = None,
        before_key_incl: str | None = None,
        after_ns: int | None = None,
        before_ns: int | None = None,
        include_txname: bool = False,
        as_of: str | None = None,
    ) -> DataFrame:
        """The merged, deduped, delete-filtered view of the database.

        Equivalent of the reference's whole read path: per-run sorted
        scans -> k-way merge with last-tx-wins dedup (merge.rs:48-181) ->
        delete anti-filter (database_reader.rs:474-518) -> key/time
        filters. Here it is one declarative plan: Catalyst prunes
        files/row-groups from the pushed key/ts predicates, the dedup is
        a partial-aggregating hash agg, and delete markers fold into a
        codegen'd literal predicate.

        ``keys``: an explicit key set (the multi-key generalization of
        ``key``, like the reference's caller looping get(key) — e.g. a
        rollup refresh's dirty keys). Applied HERE, below the dedup, the
        In predicate both bucket-prunes the bucketed view and row-group-
        prunes within each file; the same filter applied on top of
        read()'s result does neither (Catalyst will not re-derive bucket
        pruning through the aggregate — plan-asserted in test_plans).

        ``as_of``: time travel — read the snapshot as of transaction
        ``as_of`` (a run name from ``stats()``/``runs()``): only runs
        and delete markers with txname <= as_of participate, which on
        this immutable-run layout is exactly the historical read state
        (the Delta-style capability the LSM gives for free; the
        reference has no equivalent). Compaction REWRITES history into
        its output run (``main`` sorts before every tx name), so an
        ``as_of`` older than the last compaction resolves to the
        COMPACTED state, not the original version — history is
        collapsed, the VACUUM contract.
        """
        runs = self.data_runs()
        if as_of is not None:
            runs = [r for r in runs if r.name <= as_of]
        if not runs:
            return self.spark.createDataFrame([], RECORD_SCHEMA)

        # Single scan over all runs; _txname (lexical order == commit
        # order) recovered JVM-side. Multi-run goes through the bucketed
        # view so the dedup below is exchange-free (bucketing.py).
        df, _aligned, txcol = self._scan_data_runs(runs)

        # Key predicates first — BELOW the _txname projection — so they
        # push down to the Parquet scan (and prune buckets/row groups).
        df = self._apply_key_filter(
            df, key, wildcard, after_key, before_key,
            after_key_excl=after_key_excl, before_key_incl=before_key_incl,
        )
        if keys is not None:
            df = df.filter(F.col("key").isin(list(keys)))
        if after_ns is not None:
            df = df.filter(F.col("ts") >= F.lit(int(after_ns)))
        if before_ns is not None:
            df = df.filter(F.col("ts") < F.lit(int(before_ns)))
        df = df.withColumn("_txname", txcol)

        # Last-writer-wins on (key, ts): a read NEVER returns two records
        # with the same (key, ts). The dedup is elided only for a single
        # run verified duplicate-free at write time (``_U`` marker) —
        # the compacted steady state — so the hot scan stays a plain
        # parquet read.
        if len(runs) > 1 or (runs and not read_run_unique(runs[0].path)):
            df = _lww_dedup(df)

        df = self._apply_delete_markers(df, as_of=as_of)
        if not include_txname:
            df = df.drop("_txname")
        return df

    def read_sorted(self, **kwargs) -> DataFrame:
        """read() plus the reference's global (key, ts) output ordering."""
        return self.read(**kwargs).orderBy("key", "ts")

    def keys(
        self,
        *,
        key: str | None = None,
        wildcard: str | None = None,
        after_key: str | None = None,
        before_key: str | None = None,
        after_key_excl: str | None = None,
        before_key_incl: str | None = None,
        after_ns: int | None = None,
        before_ns: int | None = None,
    ) -> DataFrame:
        """Distinct surviving keys, sorted — the reference's keys-only
        readers (database_reader.rs get_range_keys/get_filter_keys,
        key_reader.rs).

        Cheaper than ``read().select("key")``: LWW overwrites never
        change key EXISTENCE, so the dedup aggregation is skipped
        entirely — the plan is a (key, ts)-pruned scan + delete filter +
        distinct. ReadSchema carries no value columns (plan-asserted)."""
        runs = self.data_runs()
        if not runs:
            return self.spark.createDataFrame([], "key string")
        df, _aligned, txcol = self._scan_data_runs(runs)
        df = self._apply_key_filter(
            df, key, wildcard, after_key, before_key,
            after_key_excl=after_key_excl, before_key_incl=before_key_incl,
        )
        if after_ns is not None:
            df = df.filter(F.col("ts") >= F.lit(int(after_ns)))
        if before_ns is not None:
            df = df.filter(F.col("ts") < F.lit(int(before_ns)))
        df = df.withColumn("_txname", txcol)
        df = self._apply_delete_markers(df)
        return df.select("key").distinct().orderBy("key")

    def export_bucketed(
        self,
        table: str,
        *,
        num_buckets: int = 64,
        path: str | None = None,
        **read_kwargs,
    ) -> None:
        """Materialize the merged view as a key-bucketed, key/ts-sorted
        table for repeated by-key analytics.

        Bucketing persists the hash partitioning in the catalog, so every
        subsequent self-join / join-on-key / groupBy("key") over the
        exported table runs with NO exchange (asserted in
        tests/test_plans.py) — the 'reuse a partitioning across stages'
        play at 100 TB, where one shuffle of the corpus costs more than
        the export. The reference cannot express this; its analogue is
        the key-never-split file layout that this generalizes.
        """
        w = (
            self.read(**read_kwargs)
            .write.bucketBy(num_buckets, "key")
            .sortBy("key", "ts")
            .mode("overwrite")
        )
        if path is not None:
            w = w.option("path", path)
        w.saveAsTable(table)

    def changes(self, since: str | None = None, until: str | None = None) -> DataFrame:
        """Batch change feed: the CDC upsert records committed in runs
        with ``since < txname <= until`` (run names from ``stats()``;
        None = unbounded). The batch companion of the streaming
        ``tail_records`` source, with the same contract: LWW overwrites
        appear as new records, delete-marker commits carry no rows
        (consume ``delete_markers()`` out-of-band), and a compaction's
        output run re-emits its merged content (at-least-once; LWW-
        idempotent downstream). Plan: one parquet scan over just the
        selected runs — cost proportional to the change window, not the
        database."""
        runs = [
            r
            for r in self.data_runs()
            if (since is None or r.name > since)
            and (until is None or r.name <= until)
        ]
        if not runs:
            return self.spark.createDataFrame([], RECORD_SCHEMA)
        return (
            self.spark.read.schema(RECORD_SCHEMA)
            .option("pathGlobFilter", "part-*.parquet")
            .parquet(*[r.path for r in runs])
        )

    def create_view(self, name: str = "sonnerie", **read_kwargs) -> DataFrame:
        """Register the merged view as a Spark temp view (SURVEY §7.7):
        ``db.create_view("ts"); spark.sql("SELECT ... FROM ts")``.

        The view captures the CURRENT run listing (Spark temp views are
        plan snapshots, like the reference's 10 s reader cache) —
        re-register after commits that must become visible.
        """
        df = self.read(**read_kwargs)
        df.createOrReplaceTempView(name)
        return df

    def get(
        self,
        key: str,
        *,
        after_ns: int | None = None,
        before_ns: int | None = None,
    ) -> list[dict]:
        """Exact-key lookup via the driver-side pyarrow fast path (O2).

        Same result as ``read(key=...).collect()`` but without a Spark
        job — footer-stat row-group pruning makes this a ~10 ms read,
        matching the reference's mmap binary search
        (segment_reader.rs:173-234, ~15 ms random lookup). Wildcards and
        scans still use the Spark plan.
        """
        if self._point_reader is None:
            from sonnerie_spark.pointread import PointReader

            self._point_reader = PointReader(self)
        return self._point_reader.get(key, after_ns=after_ns, before_ns=before_ns)

    def agg_series(
        self,
        *,
        key: str | None = None,
        wildcard: str | None = None,
        after_ns: int | None = None,
        before_ns: int | None = None,
        value_index: int = 0,
    ) -> list[dict]:
        """Per-key count/sum/min/max of one numeric value — the
        reference's per-core fold (README.md:39-40) as a first-class
        read. Value semantics match the rollup's `_value_at`: position
        ``value_index`` of v_double if present, else v_long, as double.

        On the compacted steady state (one ``_U`` run, no delete
        markers) this runs as a driver-side multi-threaded Arrow scan +
        hash group_by — no Spark job, ~8 M rec/s/core — and falls back
        to the (identical-answer) Spark plan for every other state.
        Returns [{key, n, sum, min, max}] sorted by key.
        """
        from sonnerie_spark.pointread import arrow_agg_series

        fast = arrow_agg_series(
            self, key=key, wildcard=wildcard, after_ns=after_ns,
            before_ns=before_ns, value_index=value_index,
        )
        if fast is not None:
            return fast
        i = value_index + 1
        v = F.coalesce(
            F.try_element_at("v_double", F.lit(i)),
            F.try_element_at("v_long", F.lit(i)).cast("double"),
        )
        rows = (
            self.read(
                key=key, wildcard=wildcard, after_ns=after_ns,
                before_ns=before_ns,
            )
            .select("key", v.alias("v"))
            .groupBy("key")
            .agg(
                F.count("v").alias("n"),
                F.sum("v").alias("sum"),
                F.min("v").alias("min"),
                F.max("v").alias("max"),
            )
            .orderBy("key")
            .collect()
        )
        return [
            {"key": r["key"], "n": r["n"], "sum": r["sum"], "min": r["min"],
             "max": r["max"]}
            for r in rows
        ]

    def get_many(
        self,
        keys: list[str],
        *,
        after_ns: int | None = None,
        before_ns: int | None = None,
    ) -> dict[str, list[dict]]:
        """Batch :meth:`get`: {key: rows} in ONE driver-side merge pass
        (run listing, footers, and delete markers amortized across the
        batch — the point-read analogue of ``read(keys=[...])``)."""
        if self._point_reader is None:
            from sonnerie_spark.pointread import PointReader

            self._point_reader = PointReader(self)
        return self._point_reader.get_many(
            keys, after_ns=after_ns, before_ns=before_ns
        )

    def stats(self) -> dict:
        """Operational database report from parquet footers alone — no
        Spark job, O(runs) metadata reads (the cost of one directory
        listing plus cached footers). Keys: per-run name/files/rows/
        bytes, totals, delete-marker count, bucket count.

        An extension (the reference has no introspection command); the
        numbers mirror what its users reconstruct with `ls` + dump."""
        import pyarrow.parquet as pq

        runs = []
        total_rows = 0
        total_bytes = 0
        n_markers = 0
        for r in self.runs():
            if r.is_delete:
                n_markers += len(self.delete_markers([r]))
                continue
            files = rows = nbytes = 0
            for name in sorted(os.listdir(r.path)):
                if not name.endswith(".parquet"):
                    continue
                p = os.path.join(r.path, name)
                files += 1
                nbytes += os.stat(p).st_size
                rows += pq.ParquetFile(p).metadata.num_rows
            runs.append(
                {"name": r.name, "files": files, "rows": rows, "bytes": nbytes}
            )
            total_rows += rows
            total_bytes += nbytes
        return {
            "runs": runs,
            "n_runs": len(runs),
            "total_rows": total_rows,
            "total_bytes": total_bytes,
            "delete_markers": n_markers,
            "buckets": self.buckets,
        }

    def get_prefix(
        self,
        prefix: str,
        *,
        after_ns: int | None = None,
        before_ns: int | None = None,
        max_groups: int = 64,
    ) -> list[dict] | None:
        """Prefix-read fast path (``fib%``-style patterns): driver-side
        pyarrow like :meth:`get`, bounded by row-group count — returns
        ``None`` when the match is too large, signalling the caller to
        use the distributed :meth:`read` plan instead."""
        if self._point_reader is None:
            from sonnerie_spark.pointread import PointReader

            self._point_reader = PointReader(self)
        return self._point_reader.get_range(
            prefix,
            prefix_upper_bound(prefix),
            after_ns=after_ns,
            before_ns=before_ns,
            max_groups=max_groups,
        )

    def _apply_key_filter(
        self, df, key, wildcard, after_key, before_key,
        *, after_key_excl=None, before_key_incl=None,
    ):
        """Key predicates compose as an intersection — a wildcard and
        explicit range bounds may both be present (the reference's CLI
        combines them the same way, main.rs:306-328).

        All four Rust ``Bound`` kinds on each end are expressible
        (lib.rs:34-168, get_range database_reader.rs:185-195):
        ``after_key`` = Included(start), ``after_key_excl`` =
        Excluded(start), ``before_key`` = Excluded(end),
        ``before_key_incl`` = Included(end), None = Unbounded. Each is a
        plain string comparison, so every kind pushes down to the
        Parquet scan unchanged."""
        if key is not None:
            df = df.filter(F.col("key") == F.lit(key))
        if wildcard is not None:
            kf = analyze_wildcard(wildcard)
            if kf.exact is not None:
                df = df.filter(F.col("key") == F.lit(kf.exact))
            else:
                if kf.prefix:
                    df = df.filter(F.col("key") >= F.lit(kf.prefix))
                    ub = prefix_upper_bound(kf.prefix)
                    if ub is not None:
                        df = df.filter(F.col("key") < F.lit(ub))
                if kf.needs_like:
                    df = df.filter(F.col("key").like(kf.pattern))
        if after_key is not None:
            df = df.filter(F.col("key") >= F.lit(after_key))
        if after_key_excl is not None:
            df = df.filter(F.col("key") > F.lit(after_key_excl))
        if before_key is not None:
            df = df.filter(F.col("key") < F.lit(before_key))
        if before_key_incl is not None:
            df = df.filter(F.col("key") <= F.lit(before_key_incl))
        return df

    def _apply_delete_markers(self, df: DataFrame, *, as_of: str | None = None) -> DataFrame:
        markers = self.delete_markers()
        if as_of is not None:
            markers = [m for m in markers if m["_txname"] <= as_of]
        if not markers:
            return df
        if len(markers) <= MAX_INLINE_DELETES:
            # Inline as a literal predicate: no join, whole-stage codegen.
            cond = F.lit(False)
            for m in markers:
                c = (
                    (F.col("_txname") < F.lit(m["_txname"]))
                    & (F.col("ts") >= F.lit(int(m["after_ns"])))
                    & (F.col("ts") < F.lit(int(m["before_ns"])))
                )
                if m["first_key"]:
                    c = c & (F.col("key") >= F.lit(m["first_key"]))
                if m["last_key"]:
                    c = c & (F.col("key") < F.lit(m["last_key"]))
                if m["wildcard"] and m["wildcard"] != "%":
                    c = c & F.col("key").like(to_like_pattern(m["wildcard"]))
                cond = cond | c
            return df.filter(~cond)
        # Fallback: broadcast anti-join on the non-equi delete condition.
        deldf = self.spark.createDataFrame(
            [
                (
                    m["_txname"],
                    m["first_key"],
                    m["last_key"],
                    int(m["after_ns"]),
                    int(m["before_ns"]),
                    to_like_pattern(m["wildcard"] or "%"),
                )
                for m in markers
            ],
            "d_txname string, d_first string, d_last string, d_after long, d_before long, d_wild string",
        )
        cond = (
            (F.col("_txname") < F.col("d_txname"))
            & (F.col("ts") >= F.col("d_after"))
            & (F.col("ts") < F.col("d_before"))
            & ((F.col("d_first") == "") | (F.col("key") >= F.col("d_first")))
            & ((F.col("d_last") == "") | (F.col("key") < F.col("d_last")))
            & F.col("key").like(F.col("d_wild"))
        )
        return df.join(F.broadcast(deldf), cond, "left_anti")

    # -- write path --------------------------------------------------------

    def create_tx(self) -> "Transaction":
        return Transaction(self)

    def commit_dataframe(self, df: DataFrame, *, check_duplicates: bool = True) -> str:
        """Commit a DataFrame of records as one new run (sorted, atomic).

        The shuffle-sort here replaces the reference's entire hand-built
        sorted-run writer + 4-thread compression pipeline (write.rs) —
        range partitioning keeps each key on one partition (the
        reference's key-never-split guarantee, database_reader.rs:286-287)
        and per-partition sorting makes Parquet stats tight.
        """
        df = df.select([F.col(f.name).cast(f.dataType) for f in RECORD_SCHEMA.fields])
        # The duplicate observation always rides the sort pass (no extra
        # exchange or job); ``check_duplicates`` only decides whether a
        # found duplicate aborts the commit. A clean verdict earns the
        # run its ``_U`` marker either way, so check_duplicates=False
        # writers (streaming ingest) still produce runs whose single-run
        # reads skip the LWW dedup.
        out, obs = self._prepare_run(df, check_duplicates=True)

        def write(p):
            self._write_bucketed_run(out, p, align=False)
            if obs.get["dups"]:
                if check_duplicates:
                    # Raising before _atomic_commit's rename discards the run.
                    d = obs.get["dup"]
                    raise DuplicateRecordError(
                        f"duplicate (key, ts) within one transaction: "
                        f"({d['key']!r}, {d['ts']})"
                    )
            else:
                write_run_unique(p)

        return self._atomic_commit(write)

    def _write_bucketed_run(self, df: DataFrame, path: str, *, align: bool) -> None:
        """Write ``df`` as one bucketed run directory (bucketing.py).

        Spark only writes bucketed files through ``saveAsTable``, so we
        save to a throwaway external table pointed at ``path`` and drop
        the table (files stay). ``align=True`` repartitions by the
        bucket function first so each task holds exactly one bucket and
        writes exactly one file; callers whose input already carries
        HashPartitioning(key, B) — a bucketed multi-run scan, or
        _prepare_run's repartition — skip that exchange entirely.
        """
        if align:
            df = df.repartition(self.buckets, "key")
        tbl = f"snk_w_{os.getpid()}_{time.time_ns():x}"
        try:
            (
                df.write.bucketBy(self.buckets, "key")
                .sortBy("key", "ts")
                .option("path", path)
                .option("parquet.block.size", ROW_GROUP_BYTES)
                .option("compression", RUN_COMPRESSION)
                .mode("overwrite")
                .saveAsTable(tbl)
            )
        finally:
            # Drop even when the write job fails — a leaked snk_w_* name
            # pointing at a dead tmp path would pollute the catalog.
            self.spark.sql(f"DROP TABLE IF EXISTS `{tbl}`")
        write_run_buckets(path, self.buckets)

    def _prepare_run(self, df: DataFrame, *, check_duplicates: bool):
        """Range-partition + in-partition sort for a run write; when
        ``check_duplicates``, attach a zero-cost duplicate observation.

        The duplicate check rides the sort pass: hash partitioning on
        key (the bucket function) keeps each key on one partition and
        rows arrive (key, ts)-sorted, so a ``lag`` window over that
        exact distribution detects duplicates with NO extra exchange or
        job (the window's ClusteredDistribution on ``key`` is satisfied
        by the hash partitioning — asserted in tests/test_plans.py). The
        verdict lands via ``df.observe``, read after the write action
        but before the atomic rename.
        """
        from pyspark.sql import Observation, Window

        out = df.repartition(self.buckets, "key").sortWithinPartitions("key", "ts")
        if not check_duplicates:
            return out, None
        w = Window.partitionBy("key").orderBy("ts")
        flagged = out.withColumn(
            "_dup", (F.lag("ts").over(w) == F.col("ts")).cast("int")
        )
        obs = Observation()
        # ONE max over a (key, ts) struct so the reported pair is a real
        # duplicate row, never a key from one dup and a ts from another.
        observed = flagged.observe(
            obs,
            F.sum("_dup").alias("dups"),
            F.max(
                F.when(F.col("_dup") == 1, F.struct("key", "ts"))
            ).alias("dup"),
        )
        return observed.drop("_dup"), obs

    def commit_rows(self, rows: list[dict]) -> str:
        """Commit a driver-side row buffer as one run, without a Spark job.

        The reference's CLI ``add`` path is likewise a single-threaded
        writer (write.rs); for driver-resident batches a direct pyarrow
        write of the (key, ts)-sorted buffer is strictly faster than
        round-tripping through a 1-partition Spark job. The resulting run
        is indistinguishable from a Spark-written one.
        """
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = sorted(rows, key=lambda r: (r["key"], r["ts"]))
        # Duplicate (key, ts) within one transaction is an error — the
        # reference's writer rejects non-increasing timestamps per key
        # after the external sort (write.rs:181-197), which serve PUT
        # relies on (sonnerie-serve.rs:114-186).
        for prev, cur in zip(rows, rows[1:]):
            if prev["key"] == cur["key"] and prev["ts"] == cur["ts"]:
                raise DuplicateRecordError(
                    f"duplicate (key, ts) within one transaction: "
                    f"({cur['key']!r}, {cur['ts']})"
                )
        arrow_schema = arrow_record_schema()
        # Same bucket layout as the Spark writer (bucketing.py): one
        # (key, ts)-sorted file per non-empty bucket, bucket id computed
        # with the Python mirror of Spark's murmur3 and encoded in the
        # file name, so driver-written runs participate in the
        # exchange-free bucketed multi-run read like any other run.
        by_bucket: dict[int, list[dict]] = {}
        for r in rows:  # rows already (key, ts)-sorted; stable split
            by_bucket.setdefault(bucket_of(r["key"], self.buckets), []).append(r)

        def write(p):
            os.makedirs(p, exist_ok=True)
            nonce = f"{time.time_ns():016x}"
            for b, brows in by_bucket.items():
                tbl = pa.Table.from_pylist(brows, schema=arrow_schema)
                pq.write_table(
                    tbl,
                    os.path.join(p, bucket_file_name(b, nonce)),
                    compression=RUN_COMPRESSION,
                )
            write_run_buckets(p, self.buckets)
            write_run_unique(p)  # dup scan above raised on any conflict

        return self._atomic_commit(write)

    def commit_deletes(self, markers: list[dict]) -> str:
        """Commit a delete-marker transaction (create_tx.rs:115-174).

        Instantaneous — no data rewrite; records are suppressed at read
        and physically purged by major compaction (deletion-vector
        pattern).
        """
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = [
            {
                "first_key": m.get("first_key", ""),
                "last_key": m.get("last_key", ""),
                "after_ns": int(m.get("after_ns", MIN_TS)),
                "before_ns": int(m.get("before_ns", MAX_TS)),
                "wildcard": m.get("wildcard", "%"),
            }
            for m in markers
        ]

        def write(p):
            os.makedirs(p, exist_ok=True)
            tbl = pa.Table.from_pylist(rows)
            pq.write_table(
                tbl,
                os.path.join(p, "deletes.parquet"),
                compression=RUN_COMPRESSION,
            )
            open(os.path.join(p, DELETE_SENTINEL), "w").close()

        return self._atomic_commit(write)

    def _atomic_commit(self, write_fn) -> str:
        """Write under .tmp-*, then fsync, then atomically rename to
        tx.<016x-nanos>.

        Mirrors the reference's tempfile + fsync + atomic-rename with
        collision backoff (create_tx.rs:180-264; its commit() flushes +
        sync_all()s before publishing, create_tx.rs:210-264) — the
        fsync lives in :meth:`_atomic_rename` so the streaming ingest
        path gets the same durability. On a shared filesystem this is
        the same commit protocol a minimal table format uses.
        """
        tmp = os.path.join(self.path, f".tmp-{os.getpid()}-{time.time_ns():x}")
        try:
            write_fn(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        return self._atomic_rename(tmp)

    def _atomic_rename(self, tmp: str) -> str:
        """Publish an already-written ``.tmp-*`` dir as a transaction.

        Serialized by an flock so published names are strictly monotonic
        even under concurrent/preempted writers: without it, a writer
        preempted between ``time_ns()`` and ``rename`` could publish a
        name OLDER than one already observed, and txname-cursor
        consumers (``changes(since=...)``, ``ContinuousRollup.refresh``)
        would skip that transaction forever. The name floor is the max
        existing tx name, so NTP clock steps backwards can't regress
        the order either. The critical section is a listing plus one
        rename — microseconds; run-writing jobs stay fully parallel.

        Durability: the run's files are fsynced BEFORE the publishing
        rename and the database directory fsynced AFTER it (fsutil
        module docstring; the reference's create_tx.rs:210-264
        contract), so a power loss can never leave a published ``tx.*``
        whose data blocks were not durable. The tree fsync runs outside
        the flock (the tmp is complete and private), the dir fsync
        after release (fsyncing a directory that has since gained
        entries is harmless) — the serialized window stays tiny.
        ``durable=False`` skips both fsyncs (constructor docstring)."""
        if self.durable:
            fsync_tree(tmp)  # data durable before the rename publishes it
        lock_fd = os.open(os.path.join(self.path, ".commitlock"), os.O_CREAT | os.O_RDWR)
        try:
            import fcntl

            fcntl.flock(lock_fd, fcntl.LOCK_EX)
            listing = os.listdir(self.path)
            if COMPACT_PLAN in listing:
                # resolve a dead compactor's swap BEFORE computing the
                # name floor: hidden runs are invisible to the listing,
                # so publishing now could take a name OLDER than a run
                # the rollback later restores — and a changes(since=)
                # cursor that advanced past it would skip that run
                # forever. (No deadlock: compaction never takes the
                # commit lock; the probe is non-blocking anyway.)
                self._heal_compact_crash()
                listing = os.listdir(self.path)
            floor = 0
            for name in listing:
                if name.startswith("tx.") and _TX_NAME_RE.match(name):
                    floor = max(floor, int(name[3:], 16))
            while True:
                nanos = max(time.time_ns(), floor + 1)
                txname = f"tx.{nanos:016x}"
                final = os.path.join(self.path, txname)
                try:
                    os.rename(tmp, final)
                    break
                except OSError:
                    if not os.path.exists(final):
                        raise
                    floor = nanos  # collision: bump past it
        finally:
            os.close(lock_fd)
        if self.durable:
            fsync_dir(self.path)  # the rename itself durable
        return txname

    # -- compaction --------------------------------------------------------

    def rebucket(self, new_buckets: int) -> str | None:
        """Change the database-wide bucket count B — the aggregation-
        spill knob (bucketing.py: a 100 M-row 4-run read measured 88 s
        at B=32 vs 32.4 s at B=128). B is otherwise fixed at creation;
        growth beyond the planned volume calls for this migration.

        Sequence: atomically replace ``BUCKETS``, then major-compact —
        the rewrite emits one run aligned to the NEW B. Between the two
        steps (and for any process still holding the old B) the layout
        is mixed; mixed layouts are handled by the per-run ``B`` marker
        (bucketing.py): every run records the bucket count it was
        written with, ``_bucketed_files`` declines alignment for any run
        whose recorded B differs from the reader's, and the point reader
        prunes with each run's OWN B — so a crash between the swap and
        the compaction, or a stale handle carrying the old B, degrades
        to the shuffle-dedup / unpruned read, never to missing rows.
        Everything converges at the compaction."""
        self._set_buckets(new_buckets)
        return self.compact(major=True)

    def _set_buckets(self, new_buckets: int) -> None:
        """Atomically swap the database-wide B (rebucket step 1)."""
        new_buckets = max(1, int(new_buckets))
        meta = os.path.join(self.path, BUCKETS_FILE)
        tmp = meta + f".tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(str(new_buckets))
        os.replace(tmp, meta)
        self.buckets = new_buckets
        self._point_reader = None  # cached reader carries the old B

    def compact(self, *, major: bool = False, transform=None, max_runs: int = 1000) -> str | None:
        """Merge runs into one (O15), optionally through a transform (O16).

        minor: merges only ``tx.*`` runs (≤ ``max_runs``), keeps ``main``
        and delete markers; result replaces the merged runs under the
        newest compacted name.
        major: merges everything incl. ``main``, applies + purges delete
        markers, result becomes ``main``.
        ``transform``: a ``DataFrame -> DataFrame`` callable applied to
        the merged stream — the Spark-native gegnum (main.rs:429-477);
        for subprocess parity see ``cli.gegnum_pipe``.

        Like the reference (main.rs:407-499, batch limit
        database_reader.rs:24), compaction loops in batches of
        ``max_runs`` until at most one data run remains (minor) or a
        single ``main`` holds everything (major). A user-supplied
        ``transform`` is applied exactly once, on the final pass, so
        gegnum semantics hold even when batching loops first.
        """
        lock = os.path.join(self.path, ".compact")
        lock_fd = os.open(lock, os.O_CREAT | os.O_RDWR)
        try:
            import fcntl

            fcntl.flock(lock_fd, fcntl.LOCK_EX)
            # resolve a dead compactor's interrupted swap BEFORE the
            # janitor runs: an unresolved plan's .tmp-old-* dirs are
            # the live data, not reapable debris
            self._recover_compact_plan()
            self._purge_stale_tmp()
            max_runs = max(2, int(max_runs))  # a 1-run batch cannot make progress
            last = None
            while True:
                n_tx_data = len(
                    [r for r in self.data_runs() if r.name != "main"]
                )
                if n_tx_data > max_runs:
                    # Reduce tx-run count with plain minor batches first;
                    # the transform / major merge happens on the last pass.
                    last = self._compact_locked(
                        major=False, transform=None, max_runs=max_runs
                    )
                    if last is None:
                        break
                    continue
                final_pass = self._compact_locked(
                    major=major, transform=transform, max_runs=max_runs
                )
                return final_pass if final_pass is not None else last
        finally:
            os.close(lock_fd)
        return last

    # Leftover .tmp-* dirs older than this are crash debris (a live
    # writer renames within its commit call; an hour-old tmp has no
    # owner). Readers always ignore .tmp-*, so cleanup is cosmetic for
    # correctness but keeps directory listings O(runs) after crashes.
    STALE_TMP_SECONDS = 3600.0

    def _purge_stale_tmp(self) -> None:
        """Janitor for crashed commits; called under the compaction lock.

        A ``.tmp-*`` dir is purged only when BOTH hold: the owner pid
        embedded in its name (``.tmp-<pid>-*`` / ``.tmp-put-<pid>-*``)
        is not alive on this host, and the NEWEST mtime among the dir
        and its direct children is older than STALE_TMP_SECONDS. Both
        guards exist for the same failure: a >1h streaming Transaction
        spill (this class explicitly advertises billion-record add
        streams) stops updating its DIRECTORY mtime once every bucket
        writer file exists — appends touch file mtimes, not the parent
        dir — so the old dir-mtime-only rule could rmtree a LIVE
        transaction out from under its writer. Names without a pid
        token (``.tmp-compact-*``, ``.tmp-old-*``) rely on the mtime
        rule alone; a live compaction is already excluded because the
        janitor runs under the compaction lock it holds."""
        now = time.time()
        for name in os.listdir(self.path):
            if not name.startswith(".tmp-"):
                continue
            p = os.path.join(self.path, name)
            pid = _tmp_owner_pid(name)
            started = None
            if pid is not None and _pid_alive(pid):
                # Pid-reuse detection: a process that STARTED after the
                # debris last moved cannot be the writer that produced
                # it — the kernel recycled a dead writer's pid. Spare
                # only a pid plausibly alive since the last write
                # (1 s margin for clock-tick rounding); unknown start
                # time (non-/proc host) falls back to sparing.
                started = _pid_start_time(pid)
                if started is None:
                    continue
            try:
                newest = os.stat(p).st_mtime
                # a live owner is proven by ANY write at/after its
                # start — usually the dir mtime alone, so a live
                # writer's (possibly huge) spool is spared without
                # statting every child; dead/reused pids need the full
                # newest-mtime scan for the staleness rule
                spared = started is not None and started <= newest + 1.0
                if not spared:
                    for child in os.listdir(p):
                        try:
                            m = os.stat(os.path.join(p, child)).st_mtime
                        except OSError:
                            continue
                        if m > newest:
                            newest = m
                        if started is not None and started <= newest + 1.0:
                            spared = True
                            break
                if spared:
                    continue
                if now - newest > self.STALE_TMP_SECONDS:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass

    def _compact_locked(self, *, major, transform, max_runs):
        """One compaction pass over at most ``max_runs`` tx runs.

        Delete-marker runs are purged only on *major* compaction: a minor
        pass applies markers to the merged tx subset (with txid scoping,
        so younger records are untouched) but must keep the marker files
        on disk — records still living in ``main`` are older than the
        marker and remain suppressed by it at read time
        (lib.rs _purge_compacted_files removes delete txes on major only).
        """
        all_runs = self.runs()
        if major:
            merged_runs = all_runs
            data = [r for r in merged_runs if not r.is_delete]
            dels = [r for r in merged_runs if r.is_delete]
        else:
            # Oldest ``max_runs`` tx data runs; markers are applied (txid
            # scoping keeps them off younger records) but never purged —
            # this is required: a merged run takes the *newest* merged
            # name, so un-applied markers older than that name would stop
            # matching the merged records at read time.
            data = [
                r for r in all_runs if r.name != "main" and not r.is_delete
            ][:max_runs]
            dels = [r for r in all_runs if r.is_delete]
            merged_runs = data
        if not data:
            return None  # nothing to merge (deletes-only DBs stay as-is)

        # Build the merged view of exactly the runs being compacted.
        sub = _SubsetView(self, data, dels)
        df = sub.read()
        aligned = sub.bucket_aligned
        if transform is not None:
            df = transform(df)
            aligned = False  # a transform may change keys / partitioning

        tmp = os.path.join(self.path, f".tmp-compact-{time.time_ns():x}")
        # Bucketed scan in -> bucket-aligned write out: when the merge
        # read was exchange-free (aligned), the compaction rewrite is a
        # ZERO-shuffle streaming merge — read k files per bucket, dedup
        # in place, write one file per bucket — the Spark re-expression
        # of the reference's heap-merge compactor (merge.rs:48-181).
        self._write_bucketed_run(
            df.select([F.col(f.name) for f in RECORD_SCHEMA.fields]),
            tmp,
            align=not aligned,
        )
        if transform is None:
            # The merge read resolves (key, ts) to one record (LWW dedup
            # across runs; unverified single runs dedup too), so the
            # compacted run is duplicate-free. A gegnum transform can
            # emit anything — its output stays unverified.
            write_run_unique(tmp)

        if major:
            target_name = "main"
            purge = [r.path for r in merged_runs]
        else:
            # Name the result after the newest merged *data* run and keep
            # delete-marker runs on disk until major compaction.
            target_name = data[-1].name
            purge = [r.path for r in data]
        # Swap (lib.rs:173-210 _purge_compacted_files semantics), ordered
        # for concurrent readers: rmtree of large runs takes seconds, so
        # deleting in place would open long windows where a listing sees
        # no data (purge-then-rename) or where stale delete markers
        # re-suppress records that survived a major merge (rename-then-
        # purge). Instead every replaced run is HIDDEN first via an O(1)
        # rename to a ``.tmp-old-*`` name — invisible to readers, and
        # reclaimed by the stale-tmp janitor if this process dies — so
        # the whole visibility transition is a handful of renames; the
        # expensive rmtrees happen after the new run is live. A reader
        # that resolved its file list before the swap may still hit a
        # removed path (Spark re-opens by path; the reference's POSIX
        # mmap keeps unlinked files readable) — such readers retry on a
        # fresh run listing (every driver-side read brackets itself
        # with the run-set fingerprint; Spark plans are rebuilt per
        # request by the serve layer).
        final = os.path.join(self.path, target_name)
        if major and os.path.exists(final) and final not in purge:
            purge.append(final)
        if self.durable:
            # The swap below DESTROYS the merged inputs, so the merged
            # output must be durable first — the reference syncs at
            # compaction for the same reason.
            fsync_tree(tmp)
        # The hide -> publish sequence is MULTIPLE renames: a crash
        # inside it (after some hides, before the publish) would leave
        # the database with no visible runs and the data stranded under
        # .tmp-old-* names the janitor eventually reaps — total data
        # loss. So the swap is journaled: persist the full plan FIRST,
        # then execute it; _recover_compact_plan rolls an interrupted
        # swap back (tmp still present: restore the hides) or forward
        # (tmp gone == publish happened: finish the purge).
        hides = []
        for i, p in enumerate(purge):
            if os.path.exists(p):
                hides.append(
                    (os.path.basename(p), f".tmp-old-{time.time_ns():016x}-{i}")
                )
        self._write_compact_plan(
            {"tmp": os.path.basename(tmp), "final": target_name,
             "hides": hides}
        )
        hidden = []
        for orig, h in hides:
            os.rename(
                os.path.join(self.path, orig), os.path.join(self.path, h)
            )
            hidden.append(os.path.join(self.path, h))
        os.rename(tmp, final)
        if self.durable:
            fsync_dir(self.path)  # publish + hides durable before purge
        for h in hidden:
            shutil.rmtree(h, ignore_errors=True)
        self._clear_compact_plan()
        return target_name

    def _write_compact_plan(self, plan: dict) -> None:
        """Persist the swap plan before executing it (caller holds the
        compaction lock). Durable BEFORE the first hide rename when the
        database is durable — recovery must be able to trust that a
        hide implies a readable plan."""
        import glob
        import json

        p = os.path.join(self.path, COMPACT_PLAN)
        # reap write-temp debris from plan writers that died before
        # their rename (we hold the compaction lock: no live writer);
        # the janitor skips these names (not .tmp-*, and files anyway)
        for stale in glob.glob(glob.escape(p) + ".w-*"):
            try:
                os.remove(stale)
            except OSError:
                pass
        t = p + f".w-{os.getpid()}"
        with open(t, "w") as f:
            json.dump(plan, f)
            f.flush()
            if self.durable:
                os.fsync(f.fileno())
        os.rename(t, p)
        if self.durable:
            fsync_dir(self.path)

    def _clear_compact_plan(self) -> None:
        try:
            os.remove(os.path.join(self.path, COMPACT_PLAN))
        except FileNotFoundError:
            pass

    def _recover_compact_plan(self) -> None:
        """Resolve an interrupted compaction swap (caller HOLDS the
        compaction lock). tmp still present means the publish rename
        never ran: ROLL BACK — restore every hidden run to its original
        name and discard the rewrite (compaction is a pure rewrite, so
        redoing it later loses nothing). tmp gone means the publish
        happened: ROLL FORWARD — finish the purge of the hidden
        originals. Either way the database is consistent afterwards and
        the plan is cleared; a crash inside recovery just re-runs it."""
        import json

        p = os.path.join(self.path, COMPACT_PLAN)
        try:
            with open(p) as f:
                plan = json.load(f)
        except FileNotFoundError:
            return
        except ValueError:
            # A plan is published by rename of a fully-written file, so
            # a torn one cannot exist post-crash; defensively treat it
            # as pre-hide debris (nothing to restore).
            os.remove(p)
            return
        tmp = os.path.join(self.path, plan["tmp"])
        final = os.path.join(self.path, plan["final"])
        if os.path.exists(tmp) or not os.path.exists(final):
            # not published: restore the hides done so far
            for orig, h in plan["hides"]:
                hp = os.path.join(self.path, h)
                op = os.path.join(self.path, orig)
                if os.path.isdir(hp) and not os.path.exists(op):
                    os.rename(hp, op)
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            # published: the hidden originals are now superseded
            for _orig, h in plan["hides"]:
                shutil.rmtree(
                    os.path.join(self.path, h), ignore_errors=True
                )
        if self.durable:
            fsync_dir(self.path)
        os.remove(p)


class _SubsetView:
    """Read plan over an explicit subset of runs (used by compaction)."""

    def __init__(self, db: Database, data: list[RunInfo], dels: list[RunInfo]):
        self.db = db
        self.data = data
        self.dels = dels
        self.bucket_aligned = False  # set by read()

    def read(self) -> DataFrame:
        spark = self.db.spark
        if not self.data:
            return spark.createDataFrame([], RECORD_SCHEMA)
        df, self.bucket_aligned, txcol = self.db._scan_data_runs(self.data)
        df = df.withColumn("_txname", txcol)
        if len(self.data) > 1 or not read_run_unique(self.data[0].path):
            df = _lww_dedup(df)
        if self.dels:
            names = {r.name for r in self.dels}
            markers = [m for m in self.db.delete_markers() if m["_txname"] in names]
            db2 = self.db
            # reuse Database's predicate builder on the restricted set
            saved = db2.delete_markers
            try:
                db2.delete_markers = lambda: markers  # type: ignore[assignment]
                df = db2._apply_delete_markers(df)
            finally:
                db2.delete_markers = saved  # type: ignore[assignment]
        return df.drop("_txname")


def _tmp_owner_pid(name: str) -> int | None:
    """Owner pid embedded in a ``.tmp-*`` dir name, or None. Accepts
    both writer forms — ``.tmp-<pid>-<ns>`` (Transaction spill /
    commit) and ``.tmp-put-<pid>-<ns>`` (serve spool); compaction's
    ``.tmp-compact-*`` / ``.tmp-old-*`` carry no pid on purpose (their
    liveness is the compaction lock the janitor already holds)."""
    parts = name.split("-")
    # Positional parse ONLY: the pid is parts[1] for the plain form and
    # parts[2] for the serve form. Scanning parts[1:3] for "any all-digit
    # token" mis-parsed pid-less names (.tmp-compact-<hex ns>, .tmp-old-*)
    # whose hex time_ns token happened to be all decimal digits (~0.1% of
    # timestamps) as a huge bogus pid.
    tok = parts[2] if len(parts) > 2 and parts[1] == "put" else (
        parts[1] if len(parts) > 1 else ""
    )
    if tok.isdigit():
        pid = int(tok)
        # a real pid fits the kernel's pid space; a hex-timestamp that
        # parsed as decimal does not — treat it as "no pid" so the
        # janitor falls back to the mtime rule
        if 0 < pid < (1 << 31):
            return pid
    return None


def _pid_start_time(pid: int) -> float | None:
    """Start time (epoch seconds) of a live process via /proc, or None
    when unavailable (non-Linux host, racing exit, unreadable stat).
    The janitor uses it to detect pid REUSE: a process that started
    AFTER a tmp dir's last write cannot be the writer that created it,
    so the recycled pid must not spare the debris."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
        btime = None
        with open("/proc/stat", "rb") as f:
            for line in f:
                if line.startswith(b"btime "):
                    btime = int(line.split()[1])
                    break
        if btime is None:
            return None
        # starttime is field 22 (1-indexed); split AFTER the ')' that
        # ends comm, which may itself contain spaces or parens ->
        # state is index 0 of the tail, starttime index 19
        fields = stat.rsplit(b")", 1)[1].split()
        return btime + int(fields[19]) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return None


def _pid_alive(pid: int) -> bool:
    """Is ``pid`` a live process on THIS host? (The engine's writers
    are same-host by design — serve workers and CLI share the node.)

    Pid-reuse edge: if the kernel recycles a dead writer's pid onto an
    unrelated process this alone would spare the debris; the janitor
    therefore pairs it with ``_pid_start_time`` — a pid born after the
    debris last moved is treated as dead for sparing purposes. A LIVE
    writer can still only be spared, never killed: its own start time
    necessarily precedes every write it made."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    except (OSError, OverflowError, ValueError):
        # OverflowError/ValueError: an out-of-range or negative value
        # reached os.kill — not a live process; fall back to the mtime
        # rule rather than failing every compact() until the debris dir
        # is removed by hand.
        return False
    return True


def _lww_dedup(df: DataFrame) -> DataFrame:
    """Last-writer-wins on (key, ts): keep the row from the newest run.

    ONE ``max(struct(_txid, ...))`` aggregation — still partial
    (map-side) like any agg, and equivalent to the reference's k-way
    heap merge with tx-index tie-break (merge.rs:17-26, 141-158): the
    struct comparison is decided entirely by its first field, the
    transaction id as a LONG (runs have distinct commit nanos, and one
    run never repeats a (key, ts), so later fields are never compared).

    The formulation is the measured hot spot of multi-run reads
    (SCALE.md "LSM depth cost"): the previous shape — ``max_by(payload,
    _txname)`` plus a second ``max(_txname)`` — ordered every comparison
    by STRING txname across two aggregate buffers and ran at
    0.3 M rec/s materialized at 20 M rows; a single long-led struct max
    runs the identical semantics at 8 M rec/s (29x).
    """
    txid = (
        F.when(F.col("_txname") == "main", F.lit(-1).cast("long"))
        .otherwise(F.conv(F.substring("_txname", 4, 16), 16, 10).cast("long"))
    )
    win = F.max(
        F.struct(
            txid.alias("_txid"),
            F.col("_txname").alias("_txname"),
            F.col("fmt").alias("fmt"),
            F.col("v_long").alias("v_long"),
            F.col("v_double").alias("v_double"),
            F.col("v_str").alias("v_str"),
            F.col("v_bin").alias("v_bin"),
        )
    ).alias("_p")
    return (
        df.groupBy("key", "ts")
        .agg(win)
        .select(
            "key", "ts", "_p.fmt", "_p.v_long", "_p.v_double", "_p.v_str",
            "_p.v_bin", "_p._txname",
        )
    )


class Transaction:
    """Buffered record writer with the reference's per-tx invariants.

    ``add_record`` enforces strictly-increasing timestamps per key and
    (in strict mode) sorted key arrival, mirroring KeyOrderingViolation /
    TimeOrderingViolation (write.rs:174-197). ``commit`` turns the
    buffer into one sorted Parquet run atomically.

    Strict-order transactions stream with BOUNDED memory, like the
    reference's segment writer (write.rs cuts ~1 MiB segments to disk as
    they fill): sorted arrival means each bucket's file can be appended
    in row-group increments, so every ``spill_threshold`` rows the
    buffer flushes to per-bucket Parquet writers under a ``.tmp-*`` dir
    and commit is just the close + atomic rename. A billion-record
    ``cli add`` stream holds at most ``spill_threshold`` rows in driver
    memory. (Unsorted transactions still buffer: they need the global
    sort at commit.) Strict mode also keeps O(1) ordering state — the
    sorted-arrival check needs only the current key and its last ts, not
    a per-key map.
    """

    SPILL_THRESHOLD = 1_000_000

    def __init__(
        self, db: Database, *, strict_order: bool = False,
        spill_threshold: int | None = None,
    ):
        self.db = db
        self.strict_order = strict_order
        self.spill_threshold = (
            spill_threshold if spill_threshold is not None else self.SPILL_THRESHOLD
        )
        self.rows: list[dict] = []
        self._last_key: str | None = None
        self._last_ts: int | None = None  # strict mode: current key only
        self._last_ts_per_key: dict[str, int] = {}
        self._spill_dir: str | None = None
        self._spill_writers: dict[int, object] = {}
        self._spilled = 0

    def add_record(self, key: str, ts: int, fmt: str, values: list) -> None:
        rowformat.validate_format(fmt)
        rowformat.check_timestamp(ts)
        if self.strict_order:
            if self._last_key is not None and key < self._last_key:
                raise CommitError(f"key ordering violation: {key!r} after {self._last_key!r}")
            # Sorted arrival makes any non-adjacent reappearance a
            # key-ordering violation above, so only the CURRENT key's
            # last ts is needed — O(1) state however many keys stream by.
            if key != self._last_key:
                self._last_ts = None
            if self._last_ts is not None and ts <= self._last_ts:
                raise CommitError(
                    f"time ordering violation for key {key!r}: {ts} after {self._last_ts}"
                )
            self._last_ts = ts
        else:
            last_ts = self._last_ts_per_key.get(key)
            if last_ts is not None and ts <= last_ts:
                raise CommitError(
                    f"time ordering violation for key {key!r}: {ts} after {last_ts}"
                )
            self._last_ts_per_key[key] = ts
        self._last_key = key
        v_long, v_double, v_str, v_bin = rowformat.values_to_columns(fmt, values)
        self.rows.append(
            {
                "key": key,
                "ts": ts,
                "fmt": fmt,
                "v_long": v_long,
                "v_double": v_double,
                "v_str": v_str,
                "v_bin": v_bin,
            }
        )
        if self.strict_order and len(self.rows) >= self.spill_threshold:
            self._spill()

    def _spill(self) -> None:
        """Append the buffer to per-bucket Parquet writers and clear it.

        Sorted arrival (strict mode) means each bucket receives its rows
        in (key, ts) order across spills, so appended row groups keep
        the non-overlapping sorted stats the point reader bisects."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if self._spill_dir is None:
            self._spill_dir = os.path.join(
                self.db.path, f".tmp-{os.getpid()}-{time.time_ns():x}"
            )
            os.makedirs(self._spill_dir)
            self._spill_nonce = f"{time.time_ns():016x}"
            # Pin B for the life of this tx: a concurrent rebucket()
            # changing db.buckets mid-stream must not split one run
            # across two bucket functions (the recorded marker stays
            # truthful for every file in the dir).
            self._spill_b = self.db.buckets
            write_run_buckets(self._spill_dir, self._spill_b)
            # add_record enforces strictly-increasing ts per key, so a
            # spilled run is duplicate-free by construction.
            write_run_unique(self._spill_dir)
        schema = arrow_record_schema()
        by_bucket: dict[int, list[dict]] = {}
        for r in self.rows:
            by_bucket.setdefault(bucket_of(r["key"], self._spill_b), []).append(r)
        for b in sorted(by_bucket):
            w = self._spill_writers.get(b)
            if w is None:
                w = pq.ParquetWriter(
                    os.path.join(
                        self._spill_dir, bucket_file_name(b, self._spill_nonce)
                    ),
                    schema,
                    compression=RUN_COMPRESSION,
                )
                self._spill_writers[b] = w
            w.write_table(pa.Table.from_pylist(by_bucket[b], schema=schema))
        self._spilled += len(self.rows)
        self.rows = []

    def add_line(
        self,
        line: str,
        default_fmt: str | None = None,
        ts_format: str | None = None,
    ) -> None:
        rec = rowformat.parse_line(line, default_fmt, ts_format=ts_format)
        self.add_record(rec.key, rec.ts, rec.fmt, rowformat.columns_to_values(
            rec.fmt, rec.v_long, rec.v_double, rec.v_str, rec.v_bin
        ))

    def commit(self) -> str | None:
        if self._spill_dir is not None:
            # streaming path: flush the tail, close writers, publish
            if self.rows:
                self._spill()
            for w in self._spill_writers.values():
                w.close()
            self._spill_writers = {}
            tmp, self._spill_dir = self._spill_dir, None
            return self.db._atomic_rename(tmp)
        if not self.rows:
            return None
        # per-tx duplicate check already enforced incrementally
        return self.db.commit_rows(self.rows)
