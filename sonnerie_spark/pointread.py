"""Driver-side point-read fast path for exact-key lookups (O2).

A Spark job has a scheduling floor of ~100-200 ms on local mode — fine
for scans, hopeless against the reference's ~15 ms random key lookup
(README.md:277-278), which is the serve GET hot path. But an exact-key
read touches a handful of row groups at most: the run manifest plus
Parquet footer statistics identify them without any cluster work, so we
read them directly with pyarrow on the driver and apply the (tiny)
LWW-dedup + delete-marker semantics in Python.

This is the same division of labor the reference uses — its point
lookup is a binary search over mmap'ed segment headers
(segment_reader.rs:173-234), not a parallel scan. Wildcards, ranges and
analytics keep the Spark plan; only `key == constant` (optionally with a
time range) takes this path.

Scale note: the fast path reads only footer statistics and delete
markers (both cached per run) plus the pruned row groups, so its cost is
O(runs) listing + O(selectivity) data — on a compacted DB that is one
file open and usually one row group. It runs on
whatever process calls it (driver or serve worker); it never loads a
run's full data.
"""

from __future__ import annotations

import os
from typing import Any

import pyarrow.compute as pc
import pyarrow.parquet as pq

from sonnerie_spark.bucketing import bucket_of, parse_bucket_id, read_run_buckets
from sonnerie_spark.plans.keyfilter import wildcard_regex


class _FileMeta:
    """One run file: row-group count + per-row-group key/ts min/max.

    Row groups are (key, ts)-sorted at write time, so the per-group
    [min_key, max_key] intervals are non-overlapping and sorted — a
    bisect finds the matching groups without touching the (potentially
    hundreds of) statistics objects per lookup. Only these plain lists
    are kept (a few KB per run), not the Parquet footer object or an
    open file: a read opens the file for just its own row groups.
    """

    __slots__ = (
        "path", "num_row_groups", "mins", "maxs", "ts_mins", "ts_maxs",
        "bucket", "run_b",
    )

    def __init__(self, path: str, md: Any, run_b: int | None = None):
        self.path = path
        self.num_row_groups = md.num_row_groups
        # bucket id from the file name (bucketing.py layout), paired with
        # the RUN's recorded bucket count: lets an exact-key lookup skip
        # every file of the other B-1 buckets before touching footer
        # stats. Pruning uses the run's OWN B (valid even mid-rebucket /
        # from a stale handle whose db.buckets differs); files whose run
        # has no recorded B are never pruned.
        self.bucket = parse_bucket_id(os.path.basename(path))
        self.run_b = run_b
        arrow_schema = md.schema.to_arrow_schema()
        key_idx = arrow_schema.get_field_index("key")
        ts_idx = arrow_schema.get_field_index("ts")
        mins: list[str] = []
        maxs: list[str] = []
        ts_mins: list[int] | None = []
        ts_maxs: list[int] | None = []
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(key_idx).statistics
            if st is None or not st.has_min_max:
                # no stats anywhere in the file: disable pruning for it
                self.mins = None  # type: ignore[assignment]
                self.maxs = None  # type: ignore[assignment]
                self.ts_mins = None
                self.ts_maxs = None
                return
            mins.append(st.min)
            maxs.append(st.max)
            if ts_mins is not None:
                tst = md.row_group(g).column(ts_idx).statistics
                if tst is None or not tst.has_min_max:
                    ts_mins = ts_maxs = None  # key pruning still works
                else:
                    ts_mins.append(tst.min)
                    ts_maxs.append(tst.max)
        self.mins = mins
        self.maxs = maxs
        self.ts_mins = ts_mins
        self.ts_maxs = ts_maxs

    def _ts_ok(self, g: int, after_ns: int | None, before_ns: int | None) -> bool:
        """May row group ``g`` hold a ts in ``[after_ns, before_ns)``?
        Per-group ts min/max are valid bounds for ANY predicate,
        whatever key mix the group holds — so time-windowed point reads
        prune the groups a wide-spanning key occupies outside the
        window (the reference applies its time filter per-record,
        main.rs:257-267; this is strictly earlier)."""
        if self.ts_mins is None:
            return True
        if before_ns is not None and self.ts_mins[g] >= before_ns:
            return False
        if after_ns is not None and self.ts_maxs[g] < after_ns:
            return False
        return True

    def groups_for(
        self,
        key: str,
        after_ns: int | None = None,
        before_ns: int | None = None,
    ) -> list[int]:
        if self.mins is None:
            return list(range(self.num_row_groups))
        import bisect

        # candidate groups: those with min <= key <= max; since groups
        # are key-sorted, they form a contiguous range around the
        # insertion point of `key` in `mins`.
        hi = bisect.bisect_right(self.mins, key)
        out = []
        for g in range(hi - 1, -1, -1):
            if self.maxs[g] < key:
                break
            if self._ts_ok(g, after_ns, before_ns):
                out.append(g)
        out.reverse()
        return out

    def groups_for_range(
        self,
        lo: str,
        hi: str | None,
        after_ns: int | None = None,
        before_ns: int | None = None,
    ) -> list[int]:
        """Row groups possibly containing keys in ``[lo, hi)``."""
        if self.mins is None:
            return list(range(self.num_row_groups))
        import bisect

        # groups sorted by key: start at the first whose max >= lo, stop
        # before the first whose min >= hi.
        start = bisect.bisect_left(self.maxs, lo)
        end = bisect.bisect_left(self.mins, hi) if hi is not None else len(self.mins)
        return [
            g
            for g in range(start, max(start, end))
            if self._ts_ok(g, after_ns, before_ns)
        ]


class _RunFooters:
    """Cached footer statistics for one immutable run directory."""

    __slots__ = ("mtime", "files")

    def __init__(self, mtime: float, files: list[_FileMeta]):
        self.mtime = mtime
        self.files = files


class PointReader:
    """Exact-key reads over a Database without Spark jobs.

    Two per-run caches, both keyed by run directory + mtime: footer
    statistics of data runs (``_footers``) and the parsed rows of
    delete-marker runs (``_markers``). Runs are immutable once
    committed, so an entry stays valid until the run is replaced by
    compaction (directory disappears or mtime changes). Neither cache
    holds an open file. Cached marker dicts are shared between reads
    and must not be mutated.
    """

    def __init__(self, db):
        self.db = db
        self._footers: dict[str, _RunFooters] = {}
        self._markers: dict[str, tuple[int, list[dict]]] = {}

    # -- footer cache ------------------------------------------------------

    def _evict_stale_footers(self, all_runs) -> None:
        """Evict footer- and marker-cache entries for runs no longer
        listed (``all_runs`` must be the FULL listing, data and delete
        runs). A compacted-away run's path is never looked up again, so
        without this a long-lived reader (the serve process) grows its
        caches by one entry for every transaction ever replaced.

        Thread-shape: serve handlers share one PointReader with no
        lock, so snapshot the key set in one C-level op (list(dict) —
        atomic under the GIL) instead of iterating the live dict while
        another handler inserts, and pop() tolerates a concurrent
        eviction of the same key."""
        live = {r.path for r in all_runs}
        for cache in (self._footers, self._markers):
            for stale in [p for p in list(cache) if p not in live]:
                cache.pop(stale, None)

    def _run_footers(self, run) -> _RunFooters | None:
        # The whole stat/list/open sequence can race a compaction swap
        # hiding the run dir; ANY OSError here means "run replaced under
        # us" and the caller retries on a fresh listing.
        try:
            mtime = os.stat(run.path).st_mtime_ns
            cached = self._footers.get(run.path)
            if cached is not None and cached.mtime == mtime:
                return cached
            run_b = read_run_buckets(run.path)
            files = []
            for name in sorted(os.listdir(run.path)):
                if not name.endswith(".parquet"):
                    continue
                p = os.path.join(run.path, name)
                files.append(_FileMeta(p, pq.read_metadata(p), run_b))
        except OSError:
            self._footers.pop(run.path, None)
            return None
        entry = _RunFooters(mtime, files)
        self._footers[run.path] = entry
        return entry

    def _run_markers(self, run) -> list[dict]:
        """The delete markers of one delete run, parsed once per
        (path, mtime) through ``Database.delete_markers``. OSError
        propagates: the run was purged under us, the caller retries."""
        mtime = os.stat(run.path).st_mtime_ns
        cached = self._markers.get(run.path)
        if cached is not None and cached[0] == mtime:
            return cached[1]
        rows = self.db.delete_markers([run])
        self._markers[run.path] = (mtime, rows)
        return rows

    # -- point read --------------------------------------------------------

    def get(
        self,
        key: str,
        *,
        after_ns: int | None = None,
        before_ns: int | None = None,
    ) -> list[dict]:
        """All surviving records of one key, ts-ascending, as row dicts.

        Semantics identical to ``Database.read(key=...)``: last-writer-
        wins across runs (merge.rs:17-26) then delete-marker suppression
        with txid scoping (database_reader.rs:474-518). On a bucketed
        layout only the key's own bucket file is opened per run (1/B of
        the footers — the driver-side mirror of Spark's bucket pruning).
        Pruning is computed against each run's RECORDED bucket count,
        never the handle's — correct mid-rebucket and from stale handles.
        """
        want: dict[int, int] = {}  # run B -> bucket_of(key, B), memoized

        def file_ok(fm):
            if fm.bucket is None or fm.run_b is None:
                return True
            b = want.get(fm.run_b)
            if b is None:
                b = want[fm.run_b] = bucket_of(key, fm.run_b)
            return fm.bucket == b

        return self._merge(
            lambda fm: fm.groups_for(key, after_ns, before_ns),
            lambda tbl: tbl.filter(pc.equal(tbl.column("key"), key)),
            after_ns=after_ns,
            before_ns=before_ns,
            file_ok=file_ok,
        )

    def get_many(
        self,
        keys: list[str],
        *,
        after_ns: int | None = None,
        before_ns: int | None = None,
    ) -> dict[str, list[dict]]:
        """Batch exact-key lookup: one merge pass over the UNION of the
        keys' row groups, amortizing the run listing, footer reads, and
        delete-marker load across the whole batch (a loop over ``get``
        repeats all three per key). Returns {key: rows}, rows
        ts-ascending; absent keys map to []."""
        import pyarrow as pa

        kset = sorted(set(keys))
        arr = pa.array(kset)
        buckets: dict[int, set[int]] = {}  # run B -> wanted bucket ids

        def file_ok(fm):
            if fm.bucket is None or fm.run_b is None:
                return True
            bs = buckets.get(fm.run_b)
            if bs is None:
                bs = buckets[fm.run_b] = {bucket_of(k, fm.run_b) for k in kset}
            return fm.bucket in bs

        def groups(fm):
            gs: set[int] = set()
            for k in kset:
                gs.update(fm.groups_for(k, after_ns, before_ns))
            return sorted(gs)

        rows = self._merge(
            groups,
            lambda tbl: tbl.filter(pc.is_in(tbl.column("key"), value_set=arr)),
            after_ns=after_ns,
            before_ns=before_ns,
            file_ok=file_ok,
        )
        out: dict[str, list[dict]] = {k: [] for k in keys}
        for r in rows:
            out[r["key"]].append(r)
        return out

    def get_range(
        self,
        lo: str,
        hi: str | None,
        *,
        after_ns: int | None = None,
        before_ns: int | None = None,
        max_groups: int = 64,
    ) -> list[dict] | None:
        """Surviving records with ``lo <= key < hi``, (key, ts)-ascending
        — the prefix-wildcard fast path (e.g. serve GET ``fib%``).

        Returns ``None`` when more than ``max_groups`` row groups match:
        the result is then large enough that the distributed Spark plan
        is the right tool, and the caller falls back to it. The cap
        bounds driver memory AND keeps this path's latency in the
        point-read class regardless of the pattern a client sends.
        """
        total = 0
        all_runs = self.db.runs()
        self._evict_stale_footers(all_runs)
        for run in all_runs:
            if run.is_delete:
                continue
            footers = self._run_footers(run)
            if footers is None:
                continue
            for fm in footers.files:
                total += len(fm.groups_for_range(lo, hi, after_ns, before_ns))
                if total > max_groups:
                    return None

        def flt(tbl):
            keep = pc.greater_equal(tbl.column("key"), lo)
            if hi is not None:
                keep = pc.and_(keep, pc.less(tbl.column("key"), hi))
            return tbl.filter(keep)

        return self._merge(
            lambda fm: fm.groups_for_range(lo, hi, after_ns, before_ns),
            flt,
            after_ns=after_ns,
            before_ns=before_ns,
        )

    def _merge(self, groups_fn, filter_fn, *, after_ns, before_ns, file_ok=None) -> list[dict]:
        # A concurrent compaction swap can hide a run between the
        # directory listing and the footer read; proceeding would
        # silently drop that run's records, so restart the merge on a
        # fresh listing. Retries are bounded, but not by swaps alone: the
        # closing fingerprint probe also fails on every plain commit, and
        # a retry starts right after the commit it lost to — so a writer
        # committing back-to-back (a PUT streak on another serve
        # connection, each PUT about as long as one attempt) beats
        # attempt after attempt. The bound outlasts such a streak; a
        # swap (a handful of renames) costs one retry.
        for _attempt in range(20):
            merged = self._merge_once(groups_fn, filter_fn, file_ok)
            if merged is not None:
                tables, markers = merged
                break
        else:
            raise RuntimeError("point read kept racing commits and compaction swaps")

        # Vectorized fast path for the compacted steady state: a single
        # data run USUALLY holds no (key, ts) conflict (transactions
        # written with the duplicate observation + disjoint bucket
        # files), so with no delete markers the result is just filter +
        # C-level sort — no per-row Python dict/tuple work. Cuts the
        # 2000-record warm lookup ~2x. But check_duplicates=False
        # commits (streaming ingest, rollup internals) can legally put
        # duplicate (key, ts) rows in ONE run, so the path is guarded by
        # a vectorized distinct-count probe; on conflict we fall through
        # to the dict-based LWW resolve (later row in commit/file order
        # wins — identical to the multi-run semantics).
        run_names = {rn for rn, _ in tables}
        if len(run_names) <= 1 and not markers:
            if not tables:
                return []
            import pyarrow as pa

            t = pa.concat_tables([tb for _, tb in tables])
            if after_ns is not None:
                t = t.filter(pc.greater_equal(t.column("ts"), after_ns))
            if before_ns is not None:
                t = t.filter(pc.less(t.column("ts"), before_ns))
            distinct = t.select(["key", "ts"]).group_by(["key", "ts"]).aggregate([])
            if distinct.num_rows == t.num_rows:
                return t.sort_by(
                    [("key", "ascending"), ("ts", "ascending")]
                ).to_pylist()

        from operator import itemgetter

        by_kt: dict[tuple[str, int], tuple[str, dict]] = {}
        for rn, tb in tables:  # commit order: later runs overwrite
            for row in tb.to_pylist():
                kt = (row["key"], row["ts"])
                prev = by_kt.get(kt)
                if (
                    prev is not None
                    and prev[0] == rn
                    and _payload_rank(prev[1]) >= _payload_rank(row)
                ):
                    # Same-run duplicate (check_duplicates=False commit):
                    # the Spark plan resolves it by max(struct(payload)),
                    # so keep the payload-max row, not the later-read one.
                    continue
                by_kt[kt] = (rn, row)
        out = []
        for (key, ts), (txname, row) in by_kt.items():
            if after_ns is not None and ts < after_ns:
                continue
            if before_ns is not None and ts >= before_ns:
                continue
            if any(_marker_hits(m, txname, key, ts) for m in markers):
                continue
            out.append(row)
        out.sort(key=itemgetter("key", "ts"))
        return out

    def _merge_once(self, groups_fn, filter_fn, file_ok=None):
        """One merge attempt; None when the run set changed mid-read.
        On success returns ``(tables, markers)`` — the per-run filtered
        arrow tables (commit order) AND the delete markers read inside
        the same race window; _merge resolves LWW/deletes on top.

        Two race shapes with compaction's swap (db.py _compact_locked):
        a listed run vanishing mid-read (stat/open fails -> retry), and
        a listing taken INSIDE the swap window seeing neither the old
        runs nor the merged result — caught by re-listing after the
        merge and comparing; the window is a handful of renames, so the
        retry's fresh listing sees the merged replacement. Delete
        markers are loaded here, BEFORE the final listing comparison,
        and the comparison covers the FULL run list (data runs and
        delete-marker runs): a major compaction purges markers from disk
        while merged rows may still be pre-compaction, so fetching
        markers after the guard could resurrect deleted records — a
        snapshot that never existed. The probe is the cheap
        ``run_names`` fingerprint (top-level names only — complete run
        dirs appear/disappear solely via atomic renames), taken BEFORE
        the full listing so the bracket covers every read this attempt
        makes."""
        fingerprint = self.db.run_names()
        all_runs = self.db.runs()
        self._evict_stale_footers(all_runs)
        runs = [r for r in all_runs if not r.is_delete]
        tables: list[tuple[str, object]] = []  # (run name, filtered table)
        for run in runs:  # lexical order == commit order
            footers = self._run_footers(run)
            if footers is None:
                return None  # run replaced under us: caller re-lists
            try:
                for fm in footers.files:
                    if file_ok is not None and not file_ok(fm):
                        continue
                    groups = groups_fn(fm)
                    if not groups:
                        continue
                    with pq.ParquetFile(fm.path) as pf:
                        tbl = filter_fn(pf.read_row_groups(groups))
                    if tbl.num_rows == 0:
                        continue
                    tables.append((run.name, tbl))
            except OSError:
                self._footers.pop(run.path, None)
                return None  # file deleted mid-read: retry fresh
        try:
            # Read markers from the attempt's own listing: one consistent
            # snapshot per attempt, no second readdir, and an unrelated
            # delete commit landing mid-attempt can't consume a retry.
            markers = [
                m
                for run in all_runs
                if run.is_delete
                for m in self._run_markers(run)
            ]
        except OSError:
            return None  # marker run purged mid-read: retry fresh
        if self.db.run_names() != fingerprint:
            return None  # listing raced a commit/compaction swap: retry
        return tables, markers


def _payload_rank(row: dict):
    """Total order on a record's payload mirroring Spark's null-first
    struct/array comparison, used only to resolve duplicate (key, ts)
    rows WITHIN one run (same _txid) identically to _lww_dedup's
    ``max(struct(fmt, v_long, v_double, v_str, v_bin))``."""

    def f(x):
        if x is None:
            return (0,)
        if isinstance(x, list):
            return (1, tuple(f(e) for e in x))
        return (1, x)

    return tuple(f(row[c]) for c in ("fmt", "v_long", "v_double", "v_str", "v_bin"))


def _marker_hits(m: dict, txname: str, key: str, ts: int) -> bool:
    """Python mirror of the delete predicate (database_reader.rs:481-492)."""
    if not txname < m["_txname"]:
        return False
    if not (int(m["after_ns"]) <= ts < int(m["before_ns"])):
        return False
    if m["first_key"] and key < m["first_key"]:
        return False
    if m["last_key"] and key >= m["last_key"]:
        return False
    wc = m.get("wildcard") or "%"
    if wc != "%" and not wildcard_regex(wc).match(key):
        return False
    return True


def arrow_agg_series(
    db,
    *,
    key: str | None = None,
    wildcard: str | None = None,
    after_ns: int | None = None,
    before_ns: int | None = None,
    value_index: int = 0,
) -> list[dict] | None:
    """Driver-side per-key fold (count/sum/min/max of one numeric value)
    over the COMPACTED STEADY STATE — the Spark-free answer to the
    reference's cache-hot per-core Rayon fold (README.md:39-40, the one
    axis SCALE.md historically conceded): a multi-threaded Arrow C++
    scan + run-length segmented reduceat fold (r9; generic hash
    group_by as the fallback) at ~16 M rec/s/core for a 20 M-row run
    (~37 M rec/s on 32 threads — FASTER than the warm Spark plan and
    without its ~0.2 s scheduling floor; tools/fold_scale.py is the
    citable measurement).

    Returns ``None`` (caller falls back to the Spark plan) unless the
    database is in the shape where the fold is provably equal to the
    merged view: EXACTLY ONE data run, verified duplicate-free (``_U``),
    and no delete markers — i.e. right after a major compaction, which
    is also the only state the reference's numbers are quoted for. The
    value folded is `_value_at` semantics: position ``value_index`` of
    v_double if present else v_long, as double.

    Like every driver-side path, brackets its reads with the run-set
    fingerprint and retries if a commit/compaction swaps the listing
    mid-read.
    """
    import pyarrow as pa
    import pyarrow.dataset as ds

    from sonnerie_spark.bucketing import read_run_unique
    from sonnerie_spark.plans.keyfilter import analyze_wildcard

    for _attempt in range(5):
        fingerprint = db.run_names()
        runs = db.runs()
        data = [r for r in runs if not r.is_delete]
        if len(data) != 1 or any(r.is_delete for r in runs):
            return None
        run = data[0]
        if not read_run_unique(run.path):
            return None

        filt = None

        def conj(c):
            nonlocal filt
            filt = c if filt is None else (filt & c)

        if key is not None:
            conj(ds.field("key") == key)
        if wildcard is not None:
            info = analyze_wildcard(wildcard)
            if info.exact is not None:
                conj(ds.field("key") == info.exact)
            elif info.prefix and not info.needs_like:
                from sonnerie_spark.plans.keyfilter import prefix_upper_bound

                conj(ds.field("key") >= info.prefix)
                ub = prefix_upper_bound(info.prefix)
                if ub is not None:
                    conj(ds.field("key") < ub)
            else:
                return None  # mid-pattern wildcards: Spark plan
        if after_ns is not None:
            conj(ds.field("ts") >= int(after_ns))
        if before_ns is not None:
            conj(ds.field("ts") < int(before_ns))

        try:
            # Read the key column DICTIONARY-ENCODED: a compacted run's
            # key column is a few thousand distinct series repeated
            # millions of times, and parquet already stores it as
            # dictionary pages — materializing to plain strings was
            # ~40% of the r7 fold profile's 1.36 s scan term. Reading
            # it as dictionary<string> halves the scan and feeds the
            # hash agg integer codes (micro A/B at 20 M rows x 1000
            # keys, 1 thread: scan 0.55 -> 0.30 s, agg 0.47 -> 0.40 s).
            fmt = ds.ParquetFileFormat(
                read_options=ds.ParquetReadOptions(
                    dictionary_columns=["key"]
                )
            )
            dset = ds.dataset(run.path, format=fmt)
            # Value-lane elision: decoding a 20 M-row all-empty list
            # column costs ~25% of the whole fold (offsets decode is
            # per-row even when no values exist), and a compacted
            # homogeneous-format run uses exactly one numeric lane.
            # Parquet leaf statistics prove emptiness for free
            # (stats.num_values == 0 in every row group <=> the lane
            # holds no values anywhere). A lane is elided ONLY on
            # positive proof: its leaf path must be SEEN in every row
            # group with zero values — a path that never appears (a
            # writer naming the list child something other than
            # 'element', e.g. pyarrow<11's 'item') counts as unproven
            # and is read, never silently dropped (r7 review).
            lanes = {
                "v_long.list.element": 0,  # row groups proven empty
                "v_double.list.element": 0,
            }
            total_rgs = 0
            for frag in dset.get_fragments():
                md = frag.metadata
                total_rgs += md.num_row_groups
                for rgi in range(md.num_row_groups):
                    rg = md.row_group(rgi)
                    for ci in range(rg.num_columns):
                        col = rg.column(ci)
                        p = col.path_in_schema
                        if p in lanes:
                            st = col.statistics
                            if (
                                st is not None
                                and st.num_values is not None
                                and st.num_values == 0
                            ):
                                lanes[p] += 1
            cols = ["key"]
            if lanes["v_long.list.element"] < total_rgs or total_rgs == 0:
                cols.append("v_long")
            if lanes["v_double.list.element"] < total_rgs or total_rgs == 0:
                cols.append("v_double")
            if filt is None:
                # Unfiltered whole-run fold: bypass the Acero scanner
                # and read the explicit file list directly — the
                # dataset machinery costs ~20% of the scan at 20 M
                # rows (fragment plumbing + expression projection the
                # fold doesn't need). Filtered folds keep the dataset
                # path: row-group pruning there dwarfs the overhead.
                import pyarrow.parquet as pq

                tbl = pq.read_table(
                    sorted(dset.files),
                    columns=cols,
                    read_dictionary=["key"],
                    pre_buffer=True,
                )
            else:
                tbl = dset.to_table(columns=cols, filter=filt)
        except (OSError, pa.ArrowInvalid):
            continue  # run swapped mid-read: retry on a fresh listing
        if db.run_names() != fingerprint:
            continue

        if len(cols) == 2 and value_index == 0:
            # Single surviving value lane at index 0 — the compacted
            # homogeneous-format steady state (the shape every
            # SCALE.md fold number is quoted for): fold each chunk
            # directly off the parquet list column (flatten + astype
            # per chunk) instead of building the whole-column
            # row-aligned lane first. The whole-column pc.cast + slice
            # machinery this skips was 0.45 s of the 1.61 s r9 fold at
            # 20 M rows (1 thread); with this path the tail is 0.18 s.
            # Any chunk outside the clean shape (nulls, ragged lists,
            # NaN) bails to the general path below.
            out = _segmented_fold_single_lane(
                tbl.column("key"), tbl.column(cols[1])
            )
            if out is not None:
                return out

        def elem(col, i, typ):
            # Row-aligned element-at. The generic expression
            # (list_slice to fixed_size_list<1> + null-pad) costs ~4x
            # the parquet scan itself at 20M rows, so the shapes a
            # compacted run actually has get cheap paths first — all
            # probed with vectorized kernels that work per-chunk (no
            # combine_chunks copy, no offsets->numpy materialization):
            #   - every list empty (the unused value lane): all-null;
            #   - no nulls + uniform list length L > i (homogeneous
            #     formats): list_flatten IS the row-aligned value
            #     stream for L == 1; stride-take for L > 1.
            import numpy as np

            n = len(col)
            lens = pc.list_value_length(col)
            mm = pc.min_max(lens)
            mx = mm["max"].as_py()
            if not mx:  # every list empty/null
                return pa.nulls(n, typ)
            mn = mm["min"].as_py()
            if col.null_count == 0 and mn == mx and mn > i:
                flat = pc.list_flatten(col)
                if mn == 1:
                    return flat
                if isinstance(flat, pa.ChunkedArray):
                    flat = flat.combine_chunks()
                return flat.take(
                    pa.array(np.arange(i, n * mn, mn, dtype=np.int64))
                )
            # general: short/ragged lists or parent nulls -> slice + pad
            ca = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
            sl = pc.list_slice(ca, i, i + 1, return_fixed_size_list=True)
            return pc.if_else(
                pc.is_valid(sl), sl.values, pa.nulls(len(sl), typ)
            )

        d = (
            elem(tbl.column("v_double"), value_index, pa.float64())
            if "v_double" in cols
            else pa.nulls(len(tbl), pa.float64())
        )
        l = (
            elem(tbl.column("v_long"), value_index, pa.int64())
            if "v_long" in cols
            else pa.nulls(len(tbl), pa.int64())
        )
        if l.null_count == len(l):
            v = d
        else:
            lf = pc.cast(l, pa.float64())
            v = lf if d.null_count == len(d) else pc.coalesce(d, lf)
        out = _segmented_fold(tbl.column("key"), v)
        if out is not None:
            return out
        # Fallback (non-dictionary key chunks or genuine NaN payloads,
        # whose min/max semantics the hash agg defines): the generic
        # pyarrow hash aggregation over unified dictionary codes.
        keyed = tbl.select(["key"]).append_column("v", v)
        keyed = keyed.unify_dictionaries()
        g = keyed.group_by("key").aggregate(
            [("v", "count"), ("v", "sum"), ("v", "min"), ("v", "max")]
        )
        # decode AFTER the agg: only #groups rows pay the string
        # materialization (sort_by has no dictionary kernel anyway)
        g = g.set_column(
            g.schema.get_field_index("key"),
            "key",
            pc.cast(g.column("key"), pa.string()),
        )
        out = [
            {
                "key": r["key"],
                "n": r["v_count"],
                "sum": r["v_sum"],
                "min": r["v_min"],
                "max": r["v_max"],
            }
            for r in g.sort_by("key").to_pylist()
        ]
        return out
    raise RuntimeError("agg_series kept racing compaction swaps")


def _segmented_fold(kcol, v) -> list[dict] | None:
    """count/sum/min/max per key via run-length segments + reduceat.

    A compacted run is written ``repartitionByRange(key)`` +
    ``sortWithinPartitions(key, ts)``, so the dictionary-encoded key
    column arrives as long constant runs; three ``np.*.reduceat``
    passes over segment starts replace the generic hash aggregation
    (r9: agg tail 0.80 -> 0.25 s at 20 M rows x 1000 keys, 1 thread).
    Correct for ANY row order — unsorted input merely yields more
    segments, merged in the per-key accumulator (the pytest metamorphic
    check shuffles rows) — so sortedness is a performance assumption,
    never a correctness precondition. Returns ``None`` (caller falls
    back to the pyarrow hash agg) when a key chunk is not
    dictionary-encoded or a genuine NaN payload appears: NaN is
    indistinguishable from null after ``to_numpy``, and NaN ordering
    under min/max is the hash kernel's contract to define, not ours.

    ``v`` is the row-aligned float64 value lane (nulls where the record
    has no numeric value at the index). Per-key results: ``n`` = valid
    count; ``sum``/``min``/``max`` over valid values, None when n == 0
    — exactly pyarrow's skip-null aggregate semantics.
    """
    import numpy as np
    import pyarrow as pa

    chunks = kcol.chunks if isinstance(kcol, pa.ChunkedArray) else [kcol]
    if any(
        not pa.types.is_dictionary(ch.type) or ch.null_count for ch in chunks
    ):
        return None
    if not isinstance(v, pa.ChunkedArray):
        v = pa.chunked_array([v])
    acc = _SegAccumulator()
    off = 0
    for ch in chunks:
        n = len(ch)
        if n == 0:
            continue
        vv = v.slice(off, n)  # zero-copy when chunk boundaries align
        off += n
        npv = vv.to_numpy(zero_copy_only=False)  # float64, NaN at null
        nan_mask = np.isnan(npv)
        n_nan = int(nan_mask.sum())
        if n_nan != vv.null_count:
            return None  # genuine NaN payloads: defer to the hash agg
        acc.add_chunk(ch, npv, nan_mask if n_nan else None)
    return acc.finish()


class _SegAccumulator:
    """Per-key (count, sum, min, max) accumulator over run-length
    segments — the shared core of `_segmented_fold` (row-aligned lane)
    and `_segmented_fold_single_lane` (direct parquet list chunks)."""

    def __init__(self):
        self.slots: dict = {}
        self.cnt: list = []
        self.sm: list = []
        self.mn: list = []
        self.mx: list = []

    def add_chunk(self, kch, npv, nan_mask=None) -> None:
        import numpy as np

        n = len(kch)
        codes = kch.indices.to_numpy(zero_copy_only=False)
        starts = np.flatnonzero(np.diff(codes)) + 1
        starts = np.concatenate(([0], starts))
        if nan_mask is None:
            c = np.concatenate((starts[1:], [n])) - starts
            s = np.add.reduceat(npv, starts)
            mnv = np.minimum.reduceat(npv, starts)
            mxv = np.maximum.reduceat(npv, starts)
        else:
            valid = ~nan_mask
            c = np.add.reduceat(valid.astype(np.int64), starts)
            s = np.add.reduceat(np.where(valid, npv, 0.0), starts)
            mnv = np.minimum.reduceat(np.where(valid, npv, np.inf), starts)
            mxv = np.maximum.reduceat(np.where(valid, npv, -np.inf), starts)
        seg_codes = codes[starts]
        dstr = kch.dictionary.to_pylist()
        slots, cnt, sm, mn_, mx_ = (
            self.slots, self.cnt, self.sm, self.mn, self.mx,
        )
        inf = float("inf")
        # python loop over SEGMENTS, not rows: ~#keys per chunk
        for j in range(len(starts)):
            k = dstr[seg_codes[j]]
            sl = slots.get(k)
            if sl is None:
                sl = slots[k] = len(cnt)
                cnt.append(0)
                sm.append(0.0)
                mn_.append(inf)
                mx_.append(-inf)
            cnt[sl] += int(c[j])
            sm[sl] += float(s[j])
            if mnv[j] < mn_[sl]:
                mn_[sl] = float(mnv[j])
            if mxv[j] > mx_[sl]:
                mx_[sl] = float(mxv[j])

    def finish(self) -> list[dict]:
        return [
            {
                "key": k,
                "n": self.cnt[sl],
                "sum": self.sm[sl] if self.cnt[sl] else None,
                "min": self.mn[sl] if self.cnt[sl] else None,
                "max": self.mx[sl] if self.cnt[sl] else None,
            }
            for k, sl in sorted(self.slots.items())
        ]


def _segmented_fold_single_lane(kcol, list_col) -> list[dict] | None:
    """The fold's fastest shape: one surviving numeric lane, folded
    chunk-by-chunk straight off the parquet list column. A chunk
    qualifies when the key chunk is dictionary-encoded and non-null
    and every list in the value chunk is non-null with length exactly
    1 (the homogeneous steady state writes exactly this); the value
    stream is then `list_flatten` of the chunk — already row-aligned —
    and int64 converts via one per-chunk `astype` (NO whole-column
    cast, NO slice machinery: 0.63 -> 0.18 s tail at 20 M rows x 1000
    keys, 1 thread). Returns None on the first chunk outside the shape
    (ragged/empty lists, nulls, non-dictionary keys, NaN payloads) —
    the caller rebuilds the general row-aligned lane instead; the
    retried work is one partial pass over cheap kernels.
    """
    import numpy as np
    import pyarrow as pa

    kchunks = kcol.chunks if isinstance(kcol, pa.ChunkedArray) else [kcol]
    if any(
        not pa.types.is_dictionary(ch.type) or ch.null_count
        for ch in kchunks
    ):
        return None
    # shape checks run WHOLE-COLUMN (3 kernel calls), not per chunk:
    # ~10k per-chunk kernel invocations cost ~0.2 s of pure call
    # overhead at 2679 chunks
    if list_col.null_count:
        return None
    mm = pc.min_max(pc.list_value_length(list_col))
    if mm["min"].as_py() != 1 or mm["max"].as_py() != 1:
        return None
    flat = pc.list_flatten(list_col)
    if flat.null_count:
        return None  # null ELEMENTS inside length-1 lists: general
    fchunks = flat.chunks if isinstance(flat, pa.ChunkedArray) else [flat]
    if [len(c) for c in fchunks] != [len(c) for c in kchunks]:
        return None  # flatten did not preserve chunking: general path
    is_float = pa.types.is_floating(list_col.type.value_type)
    acc = _SegAccumulator()
    for kch, fch in zip(kchunks, fchunks):
        if len(kch) == 0:
            continue
        npv = fch.to_numpy(zero_copy_only=False)
        if is_float:
            if np.isnan(npv).any():
                return None  # NaN payloads: hash-agg semantics apply
        else:
            npv = npv.astype(np.float64)
        acc.add_chunk(kch, npv)
    return acc.finish()
