"""Driver-side point-read fast path for exact-key lookups (O2).

A Spark job has a scheduling floor of ~100-200 ms on local mode — fine
for scans, hopeless against the reference's ~15 ms random key lookup
(README.md:277-278), which is the serve GET hot path. But an exact-key
read touches a handful of row groups at most: the run manifest plus
Parquet footer statistics identify them without any cluster work, so we
read them directly with pyarrow on the driver and apply the LWW-dedup +
delete-marker semantics in Arrow (``_merge_tables``). Every read returns
one (key, ts)-sorted ``pa.Table``; serve and the CLI format it per column
(``rowformat.format_table``), and ``Database.get`` & co. convert it to
row dicts at their boundary.

This is the same division of labor the reference uses — its point
lookup is a binary search over mmap'ed segment headers
(segment_reader.rs:173-234), not a parallel scan. Mid-pattern wildcards,
key ranges and analytics keep the Spark plan; an exact key or a pure
prefix (optionally with a time range) takes this path.

Every read here — ``get``, ``get_many``, ``get_range`` and the Arrow
``agg_series`` fold — runs inside one bracket (``_consistent``): ONE
``Database.runs()`` listing, the attempt, a closing listing that must
hand back the same run incarnations, retried on a race. The attempt
reads only what that listing names, and everything it needs of a run
beyond its data — footer statistics, bucket index, delete markers — is
read once per incarnation and held by the listed ``RunInfo``. The module
holds no state of its own.

Scale note: the fast path reads only footer statistics and delete
markers (both cached on the run) plus the pruned row groups. A warm
read is two root scans, each between two reads of the swap epoch
token (``Database.runs``), and no syscall per run directory: no
``stat``, no ``listdir``. Then one bucket-index lookup per run and
O(selectivity) data — on a compacted DB that is one file open and
usually one row group. It runs on whatever process calls it (driver or
serve worker); it never loads a run's full data.
"""

from __future__ import annotations

import bisect
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from sonnerie_spark.bucketing import bucket_of
from sonnerie_spark.plans.keyfilter import (
    analyze_wildcard,
    prefix_upper_bound,
    wildcard_regex,
)


class FileMeta:
    """One run file's footer statistics: row counts and per-row-group
    key/ts min/max.

    Row groups are (key, ts)-sorted at write time, so the per-group
    [min_key, max_key] intervals are non-overlapping and sorted — a
    bisect finds the matching groups without touching the (potentially
    hundreds of) statistics objects per lookup. Only these plain lists
    are kept (a few KB per run), not the Parquet footer object or an
    open file: a read opens the file for just its own row groups.
    ``RunInfo.footers`` holds one per file of a listed run.
    """

    __slots__ = (
        "path", "num_rows", "num_row_groups", "mins", "maxs", "ts_mins", "ts_maxs",
    )

    def __init__(self, path: str):
        md = pq.read_metadata(path)
        self.path = path
        self.num_rows = md.num_rows
        self.num_row_groups = md.num_row_groups
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
        # groups sorted by key: start at the first whose max >= lo, stop
        # before the first whose min >= hi.
        start = bisect.bisect_left(self.maxs, lo)
        end = bisect.bisect_left(self.mins, hi) if hi is not None else len(self.mins)
        return [
            g
            for g in range(start, max(start, end))
            if self._ts_ok(g, after_ns, before_ns)
        ]


# Lost attempts a read outlasts. The closing listing fails on every plain
# commit too, and a retry starts right after the commit it lost to, so a
# writer committing back-to-back (a PUT streak on another serve
# connection, each PUT about as long as one attempt) beats attempt after
# attempt; the bound outlasts such a streak. A compaction swap (a handful
# of renames) costs one retry.
_MAX_ATTEMPTS = 20


def _consistent(db, attempt):
    """``attempt(runs)`` on one listing of ``db``, bracketed so its result
    is one committed snapshot — the retry loop every Spark-free read
    shares (point, batch and prefix GETs, the Arrow fold).

    Each try takes ONE ``runs()`` listing, which the attempt reads from
    alone (its files, uniqueness marker, footers and delete markers all
    hang off the listed ``RunInfo`` objects), then lists again and
    accepts only if the closing listing hands back the very same
    objects. ``runs()`` hands back the same ``RunInfo`` only for a run
    listed under the same ``(name, inode)`` while the swap epoch is
    unchanged (its docstring states the invariant), and complete run
    dirs appear, disappear and are republished only by atomic renames,
    so an unchanged listing brackets a window with no commit, no swap
    rename and no swap bump. Three race shapes retry on a fresh
    listing:

    - a listed run or file vanishing mid-read (a compaction hide, or a
      same-name republish, which rmtrees the old run): the attempt
      raises OSError;
    - a listing whose scan overlapped a swap's renames, seeing neither
      the old runs nor the merged result (a scan that starts inside the
      hide window waits for the publish, ``Database._root_entries``):
      the closing listing holds a different name or inode;
    - a swap bumping the epoch during the attempt: the closing listing
      drops the cache and classifies every run again, so it returns
      new objects.

    The attempt reads delete markers inside the bracket too: a major
    compaction purges them while merged rows may still be
    pre-compaction, so markers read after the closing listing could
    resurrect deleted records — a snapshot that never existed."""
    err = None
    for _attempt in range(_MAX_ATTEMPTS):
        runs = db.runs()
        try:
            result = attempt(runs)
        except OSError as e:
            err = e
            continue
        after = db.runs()
        if len(after) == len(runs) and all(a is b for a, b in zip(after, runs)):
            return result
    raise RuntimeError("read kept racing commits and compaction swaps") from err


def _key_files(keys):
    """``files(run)``: the ``FileMeta`` of each file of a listed data run
    that may hold one of ``keys``. On a bucketed run that is the keys'
    own bucket files, looked up in the run's bucket index (the
    driver-side mirror of Spark's bucket pruning), computed against the
    run's RECORDED bucket count, never the handle's — correct
    mid-rebucket and from stale handles. A run without an index yields
    every file."""
    wanted: dict[int, list[int]] = {}  # run B -> the keys' bucket ids

    def files(run):
        index = run.bucket_index
        if index is None:
            return run.footers
        bs = wanted.get(run.buckets)
        if bs is None:
            bs = wanted[run.buckets] = sorted({bucket_of(k, run.buckets) for k in keys})
        return [fm for b in bs for fm in index.get(b, ())]

    return files


def get(
    db,
    key: str,
    *,
    after_ns: int | None = None,
    before_ns: int | None = None,
) -> pa.Table:
    """All surviving records of one key as a ts-ascending ``pa.Table``.

    Semantics identical to ``Database.read(key=...)``: last-writer-wins
    across runs (merge.rs:17-26) then delete-marker suppression with
    txid scoping (database_reader.rs:474-518). Per run, only the key's
    own bucket file is opened (``_key_files``)."""
    return _merge(
        db,
        _key_files([key]),
        lambda fm: fm.groups_for(key, after_ns, before_ns),
        lambda tbl: tbl.filter(pc.equal(tbl.column("key"), key)),
        after_ns=after_ns,
        before_ns=before_ns,
    )


def get_many(
    db,
    keys: list[str],
    *,
    after_ns: int | None = None,
    before_ns: int | None = None,
) -> pa.Table:
    """Batch exact-key lookup: one merge pass over the UNION of the keys'
    row groups, amortizing the run listing, footer reads, and
    delete-marker load across the whole batch (a loop over ``get``
    repeats all three per key). Returns one (key, ts)-sorted
    ``pa.Table``."""
    kset = sorted(set(keys))
    arr = pa.array(kset)

    def groups(fm):
        gs: set[int] = set()
        for k in kset:
            gs.update(fm.groups_for(k, after_ns, before_ns))
        return sorted(gs)

    return _merge(
        db,
        _key_files(kset),
        groups,
        lambda tbl: tbl.filter(pc.is_in(tbl.column("key"), value_set=arr)),
        after_ns=after_ns,
        before_ns=before_ns,
    )


def get_range(
    db,
    lo: str,
    hi: str | None,
    *,
    after_ns: int | None = None,
    before_ns: int | None = None,
    max_groups: int = 64,
) -> pa.Table | None:
    """Surviving records with ``lo <= key < hi`` as a (key, ts)-sorted
    ``pa.Table`` — the prefix-wildcard fast path (e.g. serve GET
    ``fib%``).

    Returns ``None`` when more than ``max_groups`` row groups match: the
    result is then large enough that the distributed Spark plan is the
    right tool, and the caller falls back to it. The cap bounds driver
    memory AND keeps this path's latency in the point-read class
    regardless of the pattern a client sends.
    """

    def flt(tbl):
        keep = pc.greater_equal(tbl.column("key"), lo)
        if hi is not None:
            keep = pc.and_(keep, pc.less(tbl.column("key"), hi))
        return tbl.filter(keep)

    return _merge(
        db,
        lambda run: run.footers,
        lambda fm: fm.groups_for_range(lo, hi, after_ns, before_ns),
        flt,
        after_ns=after_ns,
        before_ns=before_ns,
        max_groups=max_groups,
    )


def _merge(
    db, files_fn, groups_fn, filter_fn, *, after_ns, before_ns, max_groups=None,
) -> pa.Table | None:
    """Read one snapshot and merge it: a (key, ts)-sorted table of the
    surviving records, or None when more than ``max_groups`` row groups
    match."""
    read = _consistent(
        db,
        lambda runs: _read_once(db, runs, files_fn, groups_fn, filter_fn, max_groups),
    )
    if read is None:
        return None
    tables, markers = read
    return _merge_tables(tables, markers, after_ns, before_ns)


def _read_once(db, runs, files_fn, groups_fn, filter_fn, max_groups):
    """One attempt over the listed ``runs``: ``(tables, markers)`` —
    ``(run name, run is _U, filtered arrow table)`` per read file in
    commit order, and the delete markers — or None when more than
    ``max_groups`` row groups match. Every row group is picked from the
    footers before any is read, so an over-budget prefix read decodes
    nothing and stops at the first footer past the budget."""
    budget = float("inf") if max_groups is None else max_groups
    plan = []  # (run, file path, row groups), commit order
    for run in runs:  # lexical order == commit order
        if run.is_delete:
            continue
        for fm in files_fn(run):
            groups = groups_fn(fm)
            if groups:
                budget -= len(groups)
                if budget < 0:
                    return None
                plan.append((run, fm.path, groups))
    tables = []
    for run, path, groups in plan:
        with pq.ParquetFile(path) as pf:
            tbl = filter_fn(pf.read_row_groups(groups))
        if tbl.num_rows:
            tables.append((run.name, run.unique, tbl))
    return tables, db.delete_markers(runs)


def _merge_tables(tables, markers, after_ns, before_ns):
    """Last-writer-wins + delete markers over one snapshot's tables, in
    Arrow: the surviving records as one (key, ts)-sorted ``pa.Table``.

    ``tables`` is ``(run name, run is _U, table)`` in commit order (one
    run may contribute several files). The steps:

    1. concatenate, tagging each row with its run's ordinal in commit
       order (``_ord``, only when more than one run contributes), and
       apply the ts window;
    2. sort by (key, ts, ordinal);
    3. same-run duplicates — possible only in runs without the ``_U``
       marker (``check_duplicates=False`` commits): keep the payload-max
       row, as the Spark plan's ``max(struct(payload))`` does. Ranked
       in Python over just those rows: Arrow cannot sort by list
       columns;
    4. last writer wins: keep the last row of each (key, ts);
    5. delete markers (database_reader.rs:481-492): a marker's key-side
       tests run in Python once per distinct key of the result; only
       its run-ordinal test (the row's run sorts before the marker's
       txname) and its ts window run as kernels, and only for markers
       whose keys match.
    """
    if not tables:
        from sonnerie_spark.db import arrow_record_schema

        return arrow_record_schema().empty_table()
    names: list[str] = []  # contributing runs, commit order
    ords: list[int] = []
    schema = tables[0][2].schema
    parts = []
    for name, _unique, tbl in tables:
        if not names or names[-1] != name:
            names.append(name)
        ords.append(len(names) - 1)
        parts.append(tbl if tbl.schema.equals(schema) else tbl.cast(schema))
    t = pa.concat_tables(parts) if len(parts) > 1 else parts[0]
    multi = len(names) > 1
    if multi:
        counts = [tb.num_rows for tb in parts]
        t = t.append_column("_ord", pa.array(np.repeat(np.int32(ords), counts)))
    if after_ns is not None or before_ns is not None:
        ts = t.column("ts")
        lo = None if after_ns is None else pc.greater_equal(ts, after_ns)
        hi = None if before_ns is None else pc.less(ts, before_ns)
        t = t.filter(hi if lo is None else lo if hi is None else pc.and_(lo, hi))
    order = [("key", "ascending"), ("ts", "ascending")]
    t = t.sort_by(order + [("_ord", "ascending")] if multi else order)
    if not all(unique for _, unique, _ in tables):
        t = _drop_same_run_duplicates(t, ["key", "ts", "_ord"] if multi else ["key", "ts"])
    if multi:
        later = _next_equal(t, ["key", "ts"])
        if later is not None and pc.any(later).as_py():
            t = t.filter(pa.chunked_array(pc.invert(later).chunks + [pa.array([True])]))
    if markers and t.num_rows:
        t = _drop_deleted(t, markers, names)
    return t.drop_columns(["_ord"]) if multi else t


def _next_equal(t, cols):
    """Boolean array of ``num_rows - 1``: row i equals row i + 1 on
    ``cols``; None for fewer than two rows."""
    n = t.num_rows
    if n < 2:
        return None
    eq = None
    for c in cols:
        col = t.column(c)
        e = pc.equal(col.slice(0, n - 1), col.slice(1))
        eq = e if eq is None else pc.and_(eq, e)
    return eq


def _drop_same_run_duplicates(t, cols):
    """Keep the payload-max row of each group of rows equal on ``cols``
    (sorted input, so groups are adjacent). Only the duplicated rows
    leave Arrow."""
    same = _next_equal(t, cols)
    if same is None or not pc.any(same).as_py():
        return t
    first = np.flatnonzero(same.to_numpy(zero_copy_only=False))
    cont = set(first + 1)  # rows continuing the group of the row before
    rows = sorted(set(first) | cont)
    drop = []
    best = best_rank = None
    for r, rec in zip(rows, t.take(pa.array(rows)).to_pylist()):
        rank = _payload_rank(rec)
        if r not in cont:
            best, best_rank = r, rank
        elif rank > best_rank:
            drop.append(best)
            best, best_rank = r, rank
        else:
            drop.append(r)
    keep = np.ones(t.num_rows, dtype=bool)
    keep[drop] = False
    return t.filter(pa.array(keep))


def _drop_deleted(t, markers, names):
    """Remove the rows of ``t`` (sorted, one row per (key, ts)) that a
    delete marker hides. ``names`` are the contributing runs in commit
    order; ``t`` carries their ordinal in ``_ord`` when there are
    several."""
    keys = pc.unique(t.column("key")).to_pylist()
    ts = t.column("ts")
    span = None  # ts (min, max), computed on first need
    deleted = None
    for m in markers:
        cut = bisect.bisect_left(names, m["_txname"])  # runs older than m
        if cut == 0:
            continue
        hit = [k for k in keys if _marker_key_hits(m, k)]
        if not hit:
            continue
        if span is None:
            mm = pc.min_max(ts)
            span = (mm["min"].as_py(), mm["max"].as_py())
        lo, hi = int(m["after_ns"]), int(m["before_ns"])
        if lo > span[1] or hi <= span[0]:
            continue
        conds = []
        if cut < len(names):
            conds.append(pc.less(t.column("_ord"), cut))
        if lo > span[0]:
            conds.append(pc.greater_equal(ts, lo))
        if hi <= span[1]:
            conds.append(pc.less(ts, hi))
        if len(hit) < len(keys):
            conds.append(pc.is_in(t.column("key"), value_set=pa.array(hit, pa.string())))
        if not conds:
            return t.slice(0, 0)  # the marker hides every row
        mask = conds[0]
        for c in conds[1:]:
            mask = pc.and_(mask, c)
        deleted = mask if deleted is None else pc.or_(deleted, mask)
    return t if deleted is None else t.filter(pc.invert(deleted))


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


def _marker_key_hits(m: dict, key: str) -> bool:
    """The key side of the delete predicate (database_reader.rs:481-492):
    the marker's key bounds and wildcard."""
    if m["first_key"] and key < m["first_key"]:
        return False
    if m["last_key"] and key >= m["last_key"]:
        return False
    wc = m.get("wildcard") or "%"
    return wc == "%" or bool(wildcard_regex(wc).match(key))


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

    Like every driver-side path, reads inside the ``_consistent``
    bracket: a commit or compaction swap mid-read retries it.
    """
    import pyarrow.dataset as ds

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

    def scan(runs):
        run = runs[0] if len(runs) == 1 else None
        if run is None or run.is_delete or not run.unique or not run.files:
            return None  # not the compacted steady state: Spark plan
        paths = [os.path.join(run.path, f) for f in run.files]
        # Read the key column DICTIONARY-ENCODED: a compacted run's
        # key column is a few thousand distinct series repeated
        # millions of times, and parquet already stores it as
        # dictionary pages — materializing to plain strings was
        # ~40% of the r7 fold profile's 1.36 s scan term. Reading
        # it as dictionary<string> halves the scan and feeds the
        # hash agg integer codes (micro A/B at 20 M rows x 1000
        # keys, 1 thread: scan 0.55 -> 0.30 s, agg 0.47 -> 0.40 s).
        fmt = ds.ParquetFileFormat(
            read_options=ds.ParquetReadOptions(dictionary_columns=["key"])
        )
        dset = ds.dataset(paths, format=fmt)
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
        if filt is not None:
            # Filtered folds keep the dataset path: row-group pruning
            # there dwarfs the scanner's overhead.
            return dset.to_table(columns=cols, filter=filt), cols
        # Unfiltered whole-run fold: bypass the Acero scanner and read
        # the file list directly — the dataset machinery costs ~20% of
        # the scan at 20 M rows (fragment plumbing + expression
        # projection the fold doesn't need).
        tbl = pq.read_table(
            paths, columns=cols, read_dictionary=["key"], pre_buffer=True
        )
        return tbl, cols

    read = _consistent(db, scan)
    if read is None:
        return None
    tbl, cols = read

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
