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

import contextlib
import glob
import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from sonnerie_spark import pointread, rowformat
from sonnerie_spark.fsutil import (
    OwnedDir,
    fsync_dir,
    fsync_tree,
    reap_unowned,
    store_lock,
    tmp_name,
    write_json_atomic,
)
from sonnerie_spark.bucketing import (
    BUCKETS_FILE,
    RUN_UNIQUE_FILE,
    bucket_file_name,
    bucket_of,
    parse_bucket_id,
    read_run_buckets,
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
    (the Spark-free run writer, ``Transaction``; the whole-stream gegnum
    spool) — files written with it are indistinguishable from
    Spark-written run files."""
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
# The swap epoch: a token every compaction swap rewrites before its
# first hide (Database._swap), and Database.runs_edited after an
# in-place run edit; never the same twice. Database.runs() trusts its
# cached run classifications only while it is unchanged.
SWAP_EPOCH = ".swap-epoch"
# A listing that meets a live swap between its plan and its publish (a
# dir fsync and a handful of renames) waits this long before listing
# again (Database._root_entries).
SWAP_POLL_SECONDS = 0.001
# A run is written at <owned .tmp-* dir>/RUN_SUBDIR and published by
# renaming that subdir (fsutil "Own").
RUN_SUBDIR = "run"
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
    """One committed run as ``Database.runs()`` listed it, and the only
    owner of that run's immutable metadata: ``files`` and ``unique``
    come from the listing; ``buckets``, ``footers``, ``bucket_index``
    and ``markers`` are read once, on first use. ``runs()`` hands back
    the same object while the run is listed on the same inode and the
    swap epoch is unchanged, and drops it once the name is unlisted,
    so a warm read rereads nothing and a handle keeps nothing of a
    run it no longer lists. A
    property that raises (the run vanished) caches nothing; concurrent
    first uses (serve threads share runs without a lock) at worst
    compute a value twice."""

    name: str  # 'main' or 'tx.<016x>'
    path: str
    is_delete: bool
    files: tuple[str, ...] = ()  # sorted .parquet names
    unique: bool = False  # the _U duplicate-free marker is present

    @cached_property
    def buckets(self) -> int | None:
        """The bucket count the run was written with (its ``_B``
        marker, bucketing.py), or None for a legacy run."""
        return read_run_buckets(self.path)

    @cached_property
    def footers(self) -> list[pointread.FileMeta]:
        """A data run's footer statistics, one per file in ``files``
        order."""
        return [pointread.FileMeta(os.path.join(self.path, f)) for f in self.files]

    @cached_property
    def bucket_index(self) -> dict[int, list[pointread.FileMeta]] | None:
        """``footers`` by bucket id, so an exact-key read opens only its
        key's bucket file of the run; None when the run cannot be pruned
        by bucket (no recorded ``buckets``, or a file without a bucket
        id)."""
        if self.buckets is None:
            return None
        index: dict[int, list[pointread.FileMeta]] = {}
        for name, fm in zip(self.files, self.footers):
            b = parse_bucket_id(name)
            if b is None:
                return None
            index.setdefault(b, []).append(fm)
        return index

    @cached_property
    def markers(self) -> list[dict]:
        """A delete run's markers, each tagged with its ``_txname``; []
        for a data run. Shared by every read: never mutate them."""
        if not self.is_delete:
            return []
        import pyarrow.parquet as pq

        rows = pq.read_table(os.path.join(self.path, "deletes.parquet")).to_pylist()
        for row in rows:
            row["_txname"] = self.name
        return rows


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
        # runs(): (swap epoch it was filled under,
        #          (run name, inode) -> RunInfo or None)
        self._runs_cache: tuple[bytes | None, dict[tuple[str, int], RunInfo | None]] = (
            None, {},
        )
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
        with store_lock(self.path, ".compact", wait=False) as held:
            if held:  # else a live compactor holds the lock and the plan
                self._recover_compact_plan()

    def _resolve_buckets(self, requested: int | None) -> int:
        """Fixed database-wide bucket count B (bucketing.py rationale).

        Persisted once at creation in ``db_dir/BUCKETS`` so every writer
        — Spark jobs and the driver-side pyarrow path — uses the same
        bucket function forever; a later ``buckets=`` argument is
        ignored for an existing database (like the reference's immutable
        file-format parameters).

        Read-or-create under the commit lock, which serializes every
        BUCKETS writer: the file appears whole (write_json_atomic), so
        a concurrent opener reads nothing or the winner's B. An
        unparseable file is a torn create of an older release and is
        replaced like a missing one."""
        b = self._stored_buckets()
        if b is None:
            with store_lock(self.path, ".commitlock"):
                b = self._stored_buckets()
                if b is None:
                    if requested is None:
                        requested = self.spark.conf.get(
                            "spark.sql.shuffle.partitions", "32"
                        )
                    b = max(1, int(requested))
                    self._write_json(BUCKETS_FILE, b)
        return b

    def _stored_buckets(self) -> int | None:
        try:
            with open(os.path.join(self.path, BUCKETS_FILE)) as f:
                return max(1, int(f.read()))
        except (FileNotFoundError, ValueError):
            return None

    def _write_json(self, name: str, obj) -> None:
        """``write_json_atomic`` of ``name`` in the database directory,
        first reaping the tmp files of a writer killed before its
        rename. The caller holds the lock that serializes ``name``'s
        writers: the commit lock for BUCKETS, the compaction lock for
        the swap plan and the swap epoch."""
        path = os.path.join(self.path, name)
        for stale in glob.glob(glob.escape(path) + ".tmp-*"):
            os.remove(stale)
        write_json_atomic(path, obj, durable=self.durable)

    # -- manifest ----------------------------------------------------------

    def _root_entries(self) -> list[os.DirEntry]:
        """The database directory's entries, never taken inside a
        compaction swap's hide window: there the runs already hidden
        under ``.tmp-old-*`` are missing and their replacement is not
        yet published (a lone run's same-name republish lists NO run),
        and two listings inside one window look unchanged to a read's
        bracket. A long-lived handle (serve) must not serve that view,
        nor may a commit take its name floor from it.

        A plan in the listing marks a swap between its plan and its
        purge. A dead compactor's plan is healed (non-blocking: a held
        compaction lock means a LIVE compactor owns it). While the live
        swap's output, which the swap epoch names, is still listed, its
        publish has not happened: the directory is listed again after a
        pause. An epoch read unchanged around the scan shows that no
        later swap began during it."""

        def scan() -> list[os.DirEntry]:
            with os.scandir(self.path) as it:
                return list(it)

        entries = scan()
        while any(e.name == COMPACT_PLAN for e in entries):
            self._heal_compact_crash()
            epoch = self._swap_epoch()
            entries = scan()
            output = json.loads(epoch) if epoch else None
            if self._swap_epoch() == epoch and not any(e.name == output for e in entries):
                break
            time.sleep(SWAP_POLL_SECONDS)
        return entries

    def runs(self) -> list[RunInfo]:
        """Enumerate committed runs in txid (lexical) order.

        Skips in-flight ``.tmp-*`` dirs and warns-equivalent skips empty
        dirs, like the reference's readdir (database_reader.rs:60-131).
        This is the only reader of a run directory's layout: one
        ``listdir`` classifies a run and records its file names and
        uniqueness marker on the ``RunInfo``.

        Each run is classified once per handle and swap epoch. A warm
        listing is one root scan between two reads of the
        ``SWAP_EPOCH`` token, with no syscall per run: a run listed
        under a cached ``(name, DirEntry.inode())`` (the readdir
        ``d_ino``) gets the cached ``RunInfo`` (or stays skipped) while
        the epoch read after the scan is the one the cache was filled
        under; only a new run is listed again. Listings of unchanged
        runs thus return the same objects, which
        ``pointread._consistent`` checks.

        The epoch invariant: a listed ``(name, inode)`` names the same
        directory, with the same files, until a compaction swap (or
        ``runs_edited``, after an in-place edit) bumps the epoch. Commits
        publish only new names, and a swap's roll-back restores a hidden
        run on its own inode. A freed inode does come straight back to
        the next ``mkdir`` (197 of 200 times on ext4), so a republished
        ``main`` or tx name can return on a cached inode over new files,
        but only through a later swap: its output was made after the
        old directory was freed, and its bump (``_swap``) lands after
        that and before its publish. A listing that sees the reused pair
        therefore reads a changed epoch and classifies every run again.
        New classifications are stamped with the epoch read before the
        scan, so a bump that lands during the scan empties the cache on
        the next call.
        """
        epoch = self._swap_epoch()
        entries = [e for e in self._root_entries() if _TX_NAME_RE.match(e.name)]
        filled_under, cached = self._runs_cache
        if self._swap_epoch() != filled_under:
            cached = {}
        fresh: dict[tuple[str, int], RunInfo | None] = {}
        out: list[RunInfo] = []
        for e in sorted(entries, key=lambda e: e.name):
            key = (e.name, e.inode())
            if key in cached:
                run = cached[key]
            else:
                p = os.path.join(self.path, e.name)
                try:
                    names = os.listdir(p)
                except OSError:
                    continue
                files = tuple(sorted(f for f in names if f.endswith(".parquet")))
                run = None  # neither data nor _SUCCESS: skipped
                if files or "_SUCCESS" in names:
                    run = RunInfo(
                        e.name, p, DELETE_SENTINEL in names, files,
                        RUN_UNIQUE_FILE in names,
                    )
            fresh[key] = run
            if run is not None:
                out.append(run)
        # One store: serve handlers share the handle without a lock, and
        # a name no longer listed leaves the cache with the old dict.
        self._runs_cache = (epoch, fresh)
        return out

    def runs_edited(self) -> None:
        """Make an in-place edit of a listed run (say, a removed ``_U``
        marker) visible to every handle on this database, in any
        process: bumps the swap epoch to a fresh token under the
        compaction lock, so each handle classifies every run again on
        its next listing. Reads that start after this returns see the
        edit; a read already in flight retries (``pointread._consistent``)
        or plans from the listing it took."""
        with store_lock(self.path, ".compact"):
            self._write_json(SWAP_EPOCH, f"edit-{uuid.uuid4().hex}")

    def _swap_epoch(self) -> bytes:
        """The ``SWAP_EPOCH`` token; empty before the first swap."""
        try:
            with open(os.path.join(self.path, SWAP_EPOCH), "rb") as f:
                return f.read()
        except FileNotFoundError:
            return b""

    def run_names(self) -> list[str]:
        """The sorted top-level transaction names, WITHOUT per-run
        classification: one root scan, no stat (``DirEntry.is_dir()``
        answers from the readdir d_type, following symlinks like
        ``os.path.isdir``). A count of runs for callers that need no
        snapshot; the names alone cannot bracket a read, since a
        same-name republish keeps them unchanged (``runs()`` does)."""
        return sorted(
            e.name
            for e in self._root_entries()
            if _TX_NAME_RE.match(e.name) and e.is_dir()
        )

    def data_runs(self) -> list[RunInfo]:
        return [r for r in self.runs() if not r.is_delete]

    def delete_markers(self, runs: list["RunInfo"] | None = None) -> list[dict]:
        """The delete markers (tiny) of every delete run, tagged with
        txname, from each run's ``RunInfo.markers`` (parsed once per
        incarnation; do not mutate them).

        ``runs``: an already-taken run listing to read from — callers
        holding a listing (a read's retry loop) pass it so one snapshot
        serves the whole attempt and no second readdir runs."""
        return [m for r in (self.runs() if runs is None else runs) for m in r.markers]

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
            if r.buckets != self.buckets:
                return None
            for name in r.files:
                b = parse_bucket_id(name)
                if b is None or b >= self.buckets:
                    return None
                out.append((r.name, name))
        return out or None

    def _view_sig(self, files: list[tuple[str, str]]) -> str:
        """The view signature of a run set: ``_bucketed_table`` names
        its view by it and ``_gc_stale_views`` spares the current one."""
        import hashlib

        return hashlib.sha1(
            ("\n".join(f"{rn}/{fn}" for rn, fn in files) + f"#{self.buckets}").encode()
        ).hexdigest()[:12]

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

        sig = self._view_sig(files)
        cache = os.path.join(self.path, ".cache")
        view = os.path.join(cache, f"view-{sig}")
        for _ in range(3):
            if not os.path.isdir(view):
                os.makedirs(cache, exist_ok=True)
                tmp = os.path.join(cache, tmp_name("", ".build-"))
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
                current_sig = self._view_sig(files)
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
        # ONE listing serves the whole plan, and the markers are loaded
        # from it BEFORE the scan is planned: the bucketed view's hard
        # links keep the listed data readable through a concurrent major
        # compaction, which purges the markers — a second listing could
        # pair the old rows with no markers and resurrect deleted records.
        runs = self.runs()
        if as_of is not None:
            runs = [r for r in runs if r.name <= as_of]
        markers = self.delete_markers(runs)
        runs = [r for r in runs if not r.is_delete]
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
        if len(runs) > 1 or not runs[0].unique:
            df = _lww_dedup(df)

        df = self._apply_delete_markers(df, markers)
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
        distinct. ReadSchema carries no value columns (plan-asserted).
        One listing, markers first, as in :meth:`read`."""
        runs = self.runs()
        markers = self.delete_markers(runs)
        runs = [r for r in runs if not r.is_delete]
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
        df = self._apply_delete_markers(df, markers)
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
        return pointread.get(
            self, key, after_ns=after_ns, before_ns=before_ns
        ).to_pylist()

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
        fast = pointread.arrow_agg_series(
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
        out: dict[str, list[dict]] = {k: [] for k in keys}
        tbl = pointread.get_many(self, keys, after_ns=after_ns, before_ns=before_ns)
        for r in tbl.to_pylist():
            out[r["key"]].append(r)
        return out

    def stats(self) -> dict:
        """Operational database report from parquet footers alone — no
        Spark job: one listing, each run's cached footers and markers
        (``RunInfo``), and one stat per file for its size. Keys: per-run
        name/files/rows/bytes, totals, delete-marker count, bucket count.

        An extension (the reference has no introspection command); the
        numbers mirror what its users reconstruct with `ls` + dump."""
        listed = self.runs()
        runs = []
        total_rows = 0
        total_bytes = 0
        for r in listed:
            if r.is_delete:
                continue
            rows = sum(fm.num_rows for fm in r.footers)
            nbytes = sum(os.stat(fm.path).st_size for fm in r.footers)
            runs.append(
                {"name": r.name, "files": len(r.files), "rows": rows,
                 "bytes": nbytes}
            )
            total_rows += rows
            total_bytes += nbytes
        return {
            "runs": runs,
            "n_runs": len(runs),
            "total_rows": total_rows,
            "total_bytes": total_bytes,
            "delete_markers": len(self.delete_markers(listed)),
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
        tbl = pointread.get_range(
            self,
            prefix,
            prefix_upper_bound(prefix),
            after_ns=after_ns,
            before_ns=before_ns,
            max_groups=max_groups,
        )
        return None if tbl is None else tbl.to_pylist()

    def get_table(
        self,
        pattern: str,
        *,
        after_ns: int | None = None,
        before_ns: int | None = None,
    ):
        """The Spark-free answer for a wildcard ``pattern`` (serve GET,
        CLI ``read``) as one (key, ts)-sorted ``pa.Table``: :meth:`get`
        for an exact key, :meth:`get_prefix` for a pure prefix
        (``fib%``), without the list-of-dicts conversion. ``None`` when
        the pattern needs the Spark plan — a mid-pattern wildcard, the
        match-all ``%``, or a prefix matching more than the row-group
        budget."""
        kf = analyze_wildcard(pattern)
        if kf.exact is not None:
            return pointread.get(
                self, kf.exact, after_ns=after_ns, before_ns=before_ns
            )
        if kf.prefix and not kf.needs_like:
            return pointread.get_range(
                self, kf.prefix, prefix_upper_bound(kf.prefix),
                after_ns=after_ns, before_ns=before_ns,
            )
        return None

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

    def _apply_delete_markers(self, df: DataFrame, markers: list[dict]) -> DataFrame:
        """Suppress the records of ``df`` (which carries ``_txname``)
        that an older-tx ``markers`` entry deletes."""
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

    def commit_rows(self, rows: list[dict]) -> str | None:
        """Commit a driver-side row buffer as one run, without a Spark job.

        The reference's CLI ``add`` path is likewise a single-threaded
        writer (write.rs); for driver-resident batches a direct pyarrow
        write of the (key, ts)-sorted buffer is strictly faster than
        round-tripping through a 1-partition Spark job. The buffer is
        sorted and fed to the one Spark-free run writer
        (``Transaction``), which raises ``DuplicateRecordError`` on a
        repeated (key, ts) — the reference's writer rule
        (write.rs:181-197) that serve PUT relies on
        (sonnerie-serve.rs:114-186). An empty buffer commits nothing
        and returns None.
        """
        tx = Transaction(self)
        tx.rows = rows  # commit sorts a copy
        return tx.commit()

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
        """``write_fn(path)`` writes a run at ``path`` inside a fresh
        owned tmp dir (fsutil ``OwnedDir``), then :meth:`_atomic_rename`
        publishes it as tx.<016x-nanos>; on any error the tmp dir is
        removed. The Spark writers (``commit_dataframe``, which the
        streaming ingest commits through) and ``commit_deletes`` commit
        here; the Spark-free ``Transaction`` owns its tmp dir across
        calls and publishes through :meth:`_atomic_rename` directly.

        Mirrors the reference's tempfile + fsync + atomic-rename with
        collision backoff (create_tx.rs:180-264; its commit() flushes +
        sync_all()s before publishing, create_tx.rs:210-264). On a
        shared filesystem this is the same commit protocol a minimal
        table format uses.
        """
        with OwnedDir(self.path) as owner:
            write_fn(os.path.join(owner.path, RUN_SUBDIR))
            return self._atomic_rename(owner.path)

    def _atomic_rename(self, owner: str) -> str:
        """Publish the run written at ``<owner>/RUN_SUBDIR`` as a
        transaction; the caller then closes the emptied owned dir.

        Serialized by the commit lock so published names are strictly
        monotonic even under concurrent/preempted writers: without it, a
        writer preempted between ``time_ns()`` and ``rename`` could
        publish a name OLDER than one already observed, and txname-cursor
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
        the lock (the tmp is complete and private), the dir fsync
        after release (fsyncing a directory that has since gained
        entries is harmless) — the serialized window stays tiny.
        ``durable=False`` skips both fsyncs (constructor docstring)."""
        tmp = os.path.join(owner, RUN_SUBDIR)
        if self.durable:
            fsync_tree(tmp)  # data durable before the rename publishes it
        with store_lock(self.path, ".commitlock"):
            # The listing heals a dead compactor's swap first: hidden
            # runs are invisible to it, so publishing now could take a
            # name OLDER than a run the rollback later restores — and a
            # changes(since=) cursor that advanced past it would skip
            # that run forever. (No deadlock: compaction never takes
            # the commit lock; the heal's probe is non-blocking anyway.)
            floor = 0
            for e in self._root_entries():
                name = e.name
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
        with store_lock(self.path, ".commitlock"):
            self._write_json(BUCKETS_FILE, new_buckets)
        self.buckets = new_buckets

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
        with store_lock(self.path, ".compact"):
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
        return last

    # An unlocked .tmp-* dir older than this is crash debris (fsutil
    # "Own": every live writer holds its dir's flock). Readers always
    # ignore .tmp-*, so cleanup is cosmetic for correctness but keeps
    # directory listings O(runs) after crashes.
    STALE_TMP_SECONDS = 3600.0

    def _purge_stale_tmp(self) -> None:
        """Janitor for crashed writers; called under the compaction lock.

        A ``.tmp-*`` dir is removed only when a non-blocking flock on it
        succeeds (no live ``OwnedDir`` holder: a commit, a ``Transaction``
        spill, a serve PUT spool) and its own mtime is older than
        STALE_TMP_SECONDS. Compaction's ``.tmp-compact-*`` /
        ``.tmp-old-*`` dirs are never locked; a live compaction is
        excluded because the janitor runs under the compaction lock."""
        for name in os.listdir(self.path):
            if name.startswith(".tmp-"):
                reap_unowned(os.path.join(self.path, name), self.STALE_TMP_SECONDS)

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

        df, aligned = self._merged_view(data, dels)
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
            replaced = [r.path for r in merged_runs]
        else:
            # Name the result after the newest merged *data* run and keep
            # delete-marker runs on disk until major compaction.
            target_name = data[-1].name
            replaced = [r.path for r in data]
        self._swap(tmp, target_name, replaced)
        return target_name

    def _swap(self, tmp: str, final_name: str, replaced: list[str]) -> None:
        """Publish the complete run directory ``tmp`` (a uniquely named
        ``.tmp-*`` dir of the root) as run ``final_name`` in place of
        the run directories ``replaced`` (lib.rs:173-210
        _purge_compacted_files semantics); the caller holds the
        compaction lock. The one swap of the database: epoch bump,
        plan, hides, publish, purge.

        Every replaced run is HIDDEN first by an O(1) rename to a
        ``.tmp-old-*`` name, so readers see the swap as a handful of
        renames and the slow rmtrees run after the new run is live
        (deleting in place would let a listing see no data, or stale
        delete markers re-suppress merged records). A reader that
        resolved its files before the swap may hit a removed path;
        Spark-free reads retry on a fresh listing
        (``pointread._consistent``), and the serve layer rebuilds
        Spark plans per request. The renames are journaled: the plan
        is durable before the first hide, and
        ``_recover_compact_plan`` rolls an interrupted swap back (tmp
        still present) or forward (tmp gone).

        The ``SWAP_EPOCH`` bump to ``tmp``'s name comes after ``tmp``
        was made (so after any freed directory whose inode it reuses)
        and before anything is renamed: the order ``runs()`` relies
        on."""
        final = os.path.join(self.path, final_name)
        if os.path.exists(final) and final not in replaced:
            replaced = [*replaced, final]
        if self.durable:
            # The swap DESTROYS the replaced runs, so the new run must
            # be durable first — the reference syncs at compaction for
            # the same reason.
            fsync_tree(tmp)
        self._write_json(SWAP_EPOCH, os.path.basename(tmp))
        hides = [
            (os.path.basename(p), f".tmp-old-{time.time_ns():016x}-{i}")
            for i, p in enumerate(replaced)
            if os.path.exists(p)
        ]
        # durable BEFORE the first hide rename: recovery must be able
        # to trust that a hide implies a readable plan
        self._write_json(
            COMPACT_PLAN,
            {"tmp": os.path.basename(tmp), "final": final_name, "hides": hides},
        )
        hidden = []
        for orig, h in hides:
            os.rename(os.path.join(self.path, orig), os.path.join(self.path, h))
            hidden.append(os.path.join(self.path, h))
        os.rename(tmp, final)
        if self.durable:
            fsync_dir(self.path)  # publish + hides durable before purge
        for h in hidden:
            shutil.rmtree(h, ignore_errors=True)
        self._clear_compact_plan()

    def _merged_view(
        self, data: list[RunInfo], dels: list[RunInfo]
    ) -> tuple[DataFrame, bool]:
        """Compaction's input: the LWW-merged view of exactly ``data``
        with the markers of ``dels`` applied, and whether its scan is
        bucket aligned."""
        df, aligned, txcol = self._scan_data_runs(data)
        df = df.withColumn("_txname", txcol)
        if len(data) > 1 or not data[0].unique:
            df = _lww_dedup(df)
        df = self._apply_delete_markers(df, self.delete_markers(dels))
        return df.drop("_txname"), aligned

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
        the plan is cleared; a crash inside recovery just re-runs it,
        except in the roll-back's final rmtree of the discarded rewrite,
        which runs after the plan is cleared (debris for the janitor)."""
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
            if self.durable:
                fsync_dir(self.path)
            # The restored listing is whole: clear the plan BEFORE the
            # slow rmtree, so listings (_root_entries) stop waiting on
            # it. A crash inside the rmtree leaves only .tmp-compact-*
            # debris, which the janitor reaps.
            os.remove(p)
            shutil.rmtree(tmp, ignore_errors=True)
            return
        # published: the hidden originals are now superseded
        for _orig, h in plan["hides"]:
            shutil.rmtree(os.path.join(self.path, h), ignore_errors=True)
        if self.durable:
            fsync_dir(self.path)
        os.remove(p)


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
    """Buffered record writer with the reference's per-tx invariants,
    and the only Spark-free run writer (``commit_rows`` feeds it too).

    ``add_record`` enforces strictly-increasing timestamps per key and
    (in strict mode) sorted key arrival, mirroring KeyOrderingViolation /
    TimeOrderingViolation (write.rs:174-197). ``commit`` turns the
    buffer into one sorted Parquet run atomically.

    Every run takes one path: a (key, ts)-sorted row stream
    (:meth:`_push`, the one ordering and duplicate rule) is cut every
    ``spill_threshold`` rows into per-bucket Parquet writers
    (:meth:`_spill`) under an owned ``.tmp-*`` dir (fsutil "Own"), and
    commit is the close + atomic rename. Strict-order transactions
    stream with BOUNDED memory, like the reference's segment writer
    (write.rs cuts ~1 MiB segments to disk as they fill): a
    billion-record ``cli add`` stream holds at most ``spill_threshold``
    rows in driver memory, and the ordering state is O(1) — the current
    key and its last ts. An unsorted transaction checks per-key ts order
    on arrival, buffers, and at commit sorts and streams the same way.

    A write error (ENOSPC, EIO, ...) or a failed commit aborts the
    transaction: its tmp dir is removed and every later ``add_*`` or
    ``commit`` raises, so no buffered row is ever written twice.
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
        self._last_key: str | None = None  # the sorted stream's last (key, ts)
        self._last_ts: int | None = None
        self._last_ts_per_key: dict[str, int] = {}  # unsorted arrival order
        self._owner: OwnedDir | None = None
        self._spill_dir: str | None = None
        self._spill_writers: dict[int, object] = {}
        self._error: BaseException | None = None

    def add_record(self, key: str, ts: int, fmt: str, values: list) -> None:
        rowformat.validate_format(fmt)
        rowformat.check_timestamp(ts)
        v_long, v_double, v_str, v_bin = rowformat.values_to_columns(fmt, values)
        self._add(
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

    def add_line(
        self,
        line: str,
        default_fmt: str | None = None,
        ts_format: str | None = None,
    ) -> None:
        self._add(
            rowformat.parse_line(line, default_fmt, ts_format=ts_format).as_row()
        )

    def _check_alive(self) -> None:
        if self._error is not None:
            raise CommitError(
                "transaction aborted by an earlier write error"
            ) from self._error

    def _add(self, row: dict) -> None:
        self._check_alive()
        if self.strict_order:
            self._push(row)
            return
        key, ts = row["key"], row["ts"]
        last_ts = self._last_ts_per_key.get(key)
        if last_ts is not None and ts <= last_ts:
            raise CommitError(
                f"time ordering violation for key {key!r}: {ts} after {last_ts}"
            )
        self._last_ts_per_key[key] = ts
        self.rows.append(row)

    def _push(self, row: dict) -> None:
        """Append one row of the (key, ts)-sorted stream, spilling at
        the threshold. Strictly increasing (key, ts) is the writer's
        rule (write.rs:174-197), so every run it writes is
        duplicate-free."""
        key, ts = row["key"], row["ts"]
        if key == self._last_key:
            if ts == self._last_ts:
                raise DuplicateRecordError(
                    f"duplicate (key, ts) within one transaction: ({key!r}, {ts})"
                )
            if ts < self._last_ts:
                raise CommitError(
                    f"time ordering violation for key {key!r}: {ts} after {self._last_ts}"
                )
        elif self._last_key is not None and key < self._last_key:
            raise CommitError(f"key ordering violation: {key!r} after {self._last_key!r}")
        self._last_key, self._last_ts = key, ts
        self.rows.append(row)
        if len(self.rows) >= self.spill_threshold:
            self._spill()

    def _spill(self) -> None:
        """Append the buffer to per-bucket Parquet writers and clear it:
        the one pyarrow writer of record runs.

        The layout is the Spark writer's (bucketing.py): one (key,
        ts)-sorted file per non-empty bucket, named with its bucket id,
        so these runs join the exchange-free bucketed multi-run read.
        The first spill opens the owned tmp dir and writes the run's
        ``_B``/``_U`` markers. Rows arrive (key, ts)-sorted across
        spills, so each bucket file's appended row groups keep the
        non-overlapping sorted stats the point reader bisects, and the
        bucket hash runs once per key, not once per record."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        try:
            if self._owner is None:
                self._owner = OwnedDir(self.db.path)
                self._spill_dir = os.path.join(self._owner.path, RUN_SUBDIR)
                os.mkdir(self._spill_dir)
                self._spill_nonce = f"{time.time_ns():016x}"
                # Pin B for the life of this tx: a concurrent rebucket()
                # changing db.buckets mid-stream must not split one run
                # across two bucket functions (the recorded marker stays
                # truthful for every file in the dir).
                self._spill_b = self.db.buckets
                write_run_buckets(self._spill_dir, self._spill_b)
                write_run_unique(self._spill_dir)  # _push's rule
            schema = arrow_record_schema()
            by_bucket: dict[int, list[dict]] = {}
            key = None
            for r in self.rows:
                if r["key"] != key:
                    key = r["key"]
                    dest = by_bucket.setdefault(bucket_of(key, self._spill_b), [])
                dest.append(r)
            for b in sorted(by_bucket):
                w = self._spill_writers.get(b)
                if w is None:
                    w = self._spill_writers[b] = pq.ParquetWriter(
                        os.path.join(
                            self._spill_dir, bucket_file_name(b, self._spill_nonce)
                        ),
                        schema,
                        compression=RUN_COMPRESSION,
                    )
                w.write_table(pa.Table.from_pylist(by_bucket[b], schema=schema))
        except BaseException as e:
            self._abort(e)
            raise
        self.rows = []

    def _abort(self, err: BaseException) -> None:
        """Drop what this transaction wrote and buffered; every later
        ``add_*`` or ``commit`` raises."""
        self._error = err
        self.rows = []
        writers, self._spill_writers = self._spill_writers, {}
        for w in writers.values():
            with contextlib.suppress(Exception):
                w.close()
        owner, self._owner = self._owner, None
        if owner is not None:
            owner.close()

    def commit(self) -> str | None:
        """Publish the buffered records as one run; None if there are
        none."""
        self._check_alive()
        try:
            if not self.strict_order:
                rows, self.rows = sorted(self.rows, key=_key_ts), []
                for r in rows:
                    self._push(r)
            if self.rows:
                self._spill()
            if self._owner is None:
                return None
            for w in self._spill_writers.values():
                w.close()
            self._spill_writers = {}
            owner, self._owner = self._owner, None
            with owner:
                return self.db._atomic_rename(owner.path)
        except BaseException as e:
            self._abort(e)
            raise


def _key_ts(row: dict) -> tuple:
    return row["key"], row["ts"]
