"""Incrementally-maintained time-bucket rollups (continuous aggregates).

The reference has no derived views — users re-scan and re-aggregate
(README.md:24-25 delegates analytics downstream). The natural Spark-
native north-star is the continuous aggregate: a derived table holding
per-(key, bucket) count/sum/min/max that is refreshed *incrementally*,
recomputing only the buckets touched by transactions committed since
the last refresh (the invalidate-and-recompute design TimescaleDB's
continuous aggregates use — correct under arbitrary LWW overwrites,
unlike delta-merging of partials which double-counts an overwrite).

The rollup IS a Database: one record per (key, bucket) with
``ts = bucket start``, ``fmt = "IFFF"``, ``v_long = [n]``,
``v_double = [sum, min, max]``. Upserting a recomputed bucket is just
committing a transaction — the engine's own last-writer-wins merge
replaces the previous bucket version with zero read-modify-write, and
readers get snapshot isolation from the atomic commit.

Scale: a refresh costs one bounded job — scan of the NEW runs only
(dirty-set extraction), then a recompute of the merged view pruned to
the dirty time window (ts predicate reaches parquet) and semi-joined to
the dirty (key, bucket) set (broadcast when small, shuffle otherwise;
AQE decides). Steady-state cost is proportional to new data, not to
database size.

Known limits (documented, mirrored in tests):
- Delete-marker commits in the source are invisible to the incremental
  path (markers carry no record rows) — run ``refresh_full()`` after
  deletes, as with any invalidation-log-less continuous aggregate.
- A rewritten ``main`` (compaction) is skipped: plain compaction never
  changes merged content, so skipping is correct; ``compact
  (transform=...)`` DOES change content — run ``refresh_full()`` after
  a gegnum transform. Minor-compaction output committed as a new
  ``tx.*`` run IS reprocessed; recompute-from-truth is idempotent, so
  replays only cost work, never correctness.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, functions as F

from sonnerie_spark.db import RECORD_SCHEMA, Database
from sonnerie_spark.fsutil import write_json_atomic

CURSOR_FILE = "rollup.cursor.json"

#: count:int64, sum/min/max:f64 (single-value layout; multi-value
#: rollups generalize to "I"*m + "F"*3m, see ContinuousRollup docstring)
ROLLUP_FMT = "IFFF"


def _value_at(j: int):
    """The j-th (0-based) numeric value of a record: position j of
    ``v_double`` if present, else position j of ``v_long``.

    Exact for sources whose numeric columns live in ONE typed array
    (all-float or all-int formats — the realistic rollup input). For a
    MIXED per-record format like "iF" the per-array position does not
    recover declaration order — INCLUDING at num_values=1, where the
    coalesce yields the first DOUBLE value, not the first declared
    value (the engine-wide `_value_at` convention, shared with
    Database.agg_series: value LANES, not declaration order).
    Normalize mixed formats upstream if declaration order matters.
    ENFORCED: _aggregate raises on any mixed-format record when
    num_values > 1 (see the assert_true guard) rather than aggregating
    a plausible-but-wrong column."""
    return F.coalesce(
        F.try_element_at("v_double", F.lit(j + 1)),
        F.try_element_at("v_long", F.lit(j + 1)).cast("double"),
    )


class ContinuousRollup:
    """A (key, time-bucket) -> count/sum/min/max aggregate over ``src``,
    materialized in its own Database at ``dst_path`` and refreshed
    incrementally.

    ``num_values`` (m, default 1) rolls up the first m numeric values of
    each record independently. Rollup record layout generalizes the
    single-value case: ``v_long = [n_1..n_m]`` (per-column non-null
    counts), ``v_double = [sum_1..sum_m, min_1..min_m, max_1..max_m]``,
    ``fmt = "I"*m + "F"*3m`` — at m=1 exactly the historic
    ``[n] / [sum, min, max] / "IFFF"`` layout. The cascade merge is
    per-column and inherits m from the finer rollup. See ``_value_at``
    for the mixed-format caveat when m > 1.
    """

    def __init__(
        self,
        src: Database,
        dst_path: str,
        *,
        interval_ns: int,
        source_is_rollup: bool = False,
        num_values: int = 1,
    ):
        self.src = src
        self.dst = Database(src.spark, dst_path)
        self.interval_ns = int(interval_ns)
        self.source_is_rollup = source_is_rollup
        self.num_values = max(1, int(num_values))
        self._cursor_path = os.path.join(self.dst.path, CURSOR_FILE)

    @classmethod
    def cascade(
        cls, finer: "ContinuousRollup", dst_path: str, *, interval_ns: int
    ) -> "ContinuousRollup":
        """A coarser rollup maintained FROM a finer one (1m -> 1h -> 1d):
        count/sum/min/max merge losslessly across aligned buckets, so the
        coarse refresh reads only the finer rollup — never the raw data.
        At 100 TB this is the difference between a daily rollup touching
        ~1/3600 of the rows (the hourly aggregate) and re-scanning the
        corpus. ``interval_ns`` must be a multiple of the finer interval
        (bucket alignment)."""
        if interval_ns % finer.interval_ns != 0:
            raise ValueError(
                f"cascade interval {interval_ns} is not a multiple of the "
                f"finer rollup's {finer.interval_ns}"
            )
        return cls(
            finer.dst,
            dst_path,
            interval_ns=interval_ns,
            source_is_rollup=True,
            num_values=finer.num_values,
        )

    # -- cursor ------------------------------------------------------------

    def _load_cursor(self) -> dict | None:
        try:
            with open(self._cursor_path) as f:
                cur = json.load(f)
        except (OSError, ValueError):
            return None
        if cur.get("interval_ns") != self.interval_ns:
            raise ValueError(
                f"rollup at {self.dst.path} was built with interval_ns="
                f"{cur.get('interval_ns')}, not {self.interval_ns}"
            )
        if cur.get("num_values", 1) != self.num_values:
            raise ValueError(
                f"rollup at {self.dst.path} was built with num_values="
                f"{cur.get('num_values', 1)}, not {self.num_values}"
            )
        return cur

    def _store_cursor(self, last_tx: str) -> None:
        write_json_atomic(
            self._cursor_path,
            {
                "last_tx": last_tx,
                "interval_ns": self.interval_ns,
                "num_values": self.num_values,
            },
            durable=self.dst.durable,
        )

    # -- refresh -----------------------------------------------------------

    def _bucket(self, ts_col):
        return (ts_col - F.pmod(ts_col, F.lit(self.interval_ns))).cast("long")

    def _aggregate(self, records: DataFrame) -> DataFrame:
        """(key, bucket records) -> rollup RECORD_SCHEMA rows.

        Raw mode counts/sums the record values; cascade mode MERGES the
        finer rollup's aggregates (n=sum n, sum=sum sum, min=min min,
        max=max max) — the classic reaggregation identity that makes
        count/sum/min/max cascade-safe (mean is derived, never stored).
        Both modes are per-value-column (j in 0..m-1); the m aggregates
        ride ONE hash aggregation — 4m agg buffers, same single shuffle
        as m=1."""
        m = self.num_values
        if self.source_is_rollup:
            # stored layout: v_long=[n_j...], v_double=[s..., mn..., mx...]
            cols = []
            for j in range(m):
                cols += [
                    F.element_at("v_long", j + 1).alias(f"fn{j}"),
                    F.element_at("v_double", j + 1).alias(f"fs{j}"),
                    F.element_at("v_double", m + j + 1).alias(f"fmn{j}"),
                    F.element_at("v_double", 2 * m + j + 1).alias(f"fmx{j}"),
                ]
            aggs = []
            for j in range(m):
                aggs += [
                    F.sum(f"fn{j}").alias(f"n{j}"),
                    F.sum(f"fs{j}").alias(f"s{j}"),
                    F.min(f"fmn{j}").alias(f"mn{j}"),
                    F.max(f"fmx{j}").alias(f"mx{j}"),
                ]
            grouped = (
                records.select("key", self._bucket(F.col("ts")).alias("ts"), *cols)
                .groupBy("key", "ts")
                .agg(*aggs)
            )
        else:
            vals = [_value_at(j).alias(f"v{j}") for j in range(m)]
            if m > 1:
                # _value_at's per-typed-array position cannot recover
                # declaration order for a record mixing long and double
                # values (e.g. "iF"): enforce the docstring caveat
                # instead of silently aggregating the wrong column. The
                # assert rides the scan row-by-row — no extra job.
                mixed = F.col("fmt").rlike("[iuIU]") & F.col("fmt").rlike("[fF]")
                guard = F.assert_true(
                    ~mixed,
                    F.concat(
                        F.lit(
                            "rollup with num_values>1 cannot recover value "
                            "declaration order for mixed long/double format '"
                        ),
                        F.col("fmt"),
                        F.lit(
                            "' (key '"),
                        F.col("key"),
                        F.lit(
                            "'); normalize formats upstream or use num_values=1"
                        ),
                    ),
                )
                vals[0] = F.when(guard.isNull(), _value_at(0)).alias("v0")
            aggs = []
            for j in range(m):
                aggs += [
                    F.count(f"v{j}").alias(f"n{j}"),
                    F.sum(f"v{j}").alias(f"s{j}"),
                    F.min(f"v{j}").alias(f"mn{j}"),
                    F.max(f"v{j}").alias(f"mx{j}"),
                ]
            grouped = (
                records.select(
                    "key", self._bucket(F.col("ts")).alias("ts"), *vals
                )
                .groupBy("key", "ts")
                .agg(*aggs)
            )
        fmt = "I" * m + "F" * (3 * m)
        return grouped.select(
            "key",
            "ts",
            F.lit(fmt).alias("fmt"),
            F.array(*[F.col(f"n{j}") for j in range(m)]).alias("v_long"),
            F.array(
                *[F.col(f"s{j}") for j in range(m)],
                *[F.col(f"mn{j}") for j in range(m)],
                *[F.col(f"mx{j}") for j in range(m)],
            ).alias("v_double"),
            F.array().cast("array<string>").alias("v_str"),
            F.array().cast("array<binary>").alias("v_bin"),
        )

    def refresh(self) -> str | None:
        """Incremental refresh: recompute the (key, bucket) pairs touched
        by source transactions committed after the cursor; commit them
        as one rollup transaction (LWW upsert). Returns the rollup tx
        name, or None if there was nothing new. First call on an empty
        cursor is a full build.

        Retries on a vanished run: a concurrent minor compaction can
        rename the listed tx dirs away between the listing and the
        scan jobs (the same race ``tail_records`` survives via
        ignoreMissingFiles) — here silently ignoring the files would
        LOSE their dirty buckets once the cursor advances, so the
        correct move is a fresh listing and a full re-run. Safe
        because the cursor commits LAST: a retried refresh re-lists
        the post-compaction runs (the merged run carries every folded
        record under the newest merged name, so nothing already
        processed is re-counted wrong — recompute is LWW-idempotent —
        and nothing unprocessed is skipped)."""
        last_exc: Exception | None = None
        for _ in range(5):
            try:
                return self._refresh_once()
            except Exception as e:  # noqa: BLE001 - filtered below
                msg = str(e)
                from urllib.parse import quote

                if (
                    "FileNotFoundException" in msg
                    or "PATH_NOT_FOUND" in msg
                    or "does not exist" in msg
                ) and (
                    self.src.path in msg
                    # Spark may render the path as a percent-encoded URI
                    # (the tail-exclusion lesson): match that form too
                    or quote(self.src.path) in msg
                ):
                    # only a path under the SOURCE db can be a
                    # compaction race; a missing/misconfigured path
                    # anywhere else is a real error — surface it now
                    last_exc = e
                    continue  # compaction swapped runs mid-refresh
                raise
        # chained: the real cause (which file kept vanishing) survives
        raise RuntimeError(
            "refresh kept racing compaction swaps"
        ) from last_exc

    def _refresh_once(self) -> str | None:
        cursor = self._load_cursor()
        runs = self.src.data_runs()
        if cursor is None:
            new = runs
        else:
            last = cursor["last_tx"]
            new = [r for r in runs if r.name.startswith("tx.") and r.name > last]
        if not new:
            return None
        tx_names = [r.name for r in new if r.name.startswith("tx.")]
        last_tx = max(tx_names) if tx_names else (cursor or {}).get("last_tx", "")

        # 1. dirty set: only the NEW runs are scanned. Explicit
        # schema, like Database.changes(): a committed-but-empty run
        # (empty commit_dataframe, all-filtering gegnum) holds zero
        # part files, and schema INFERENCE over zero files raises —
        # killing a stream()'s query — where the intended path is the
        # bounds['lo'] is None empty-refresh no-op below.
        new_rows = (
            self.src.spark.read.schema(RECORD_SCHEMA)
            .option("pathGlobFilter", "part-*.parquet")
            .parquet(*[r.path for r in new])
        )
        dirty = (
            new_rows.select("key", self._bucket(F.col("ts")).alias("ts"))
            .distinct()
            .persist()  # reused by bounds, key-pushdown, and the semi-join
        )

        try:
            # 2. recompute those buckets from the merged truth, pruned
            # THREE ways: the dirty time window (ts predicate -> parquet
            # stats), the dirty key set when it is small (isin ->
            # parquet stats + bucket pruning; a typical steady-state tx
            # touches few keys, and without this the scan covers the
            # whole DB whenever the dirty buckets span the full time
            # range), and finally the bucket-exact semi-join.
            bounds = dirty.agg(
                F.min("ts").alias("lo"), F.max("ts").alias("hi")
            ).first()
            if bounds["lo"] is None:  # new runs exist but carry no rows
                self._store_cursor(last_tx)
                return None
            cap = 4096
            keys = [
                r["key"]
                for r in dirty.select("key").distinct().limit(cap + 1).collect()
            ]
            small_keys = len(keys) <= cap
            # The broadcast decision must gate on the dirty ROW count,
            # not the key count: one key backfilled across millions of
            # intervals is few keys but an unbounded (key, bucket) set —
            # broadcasting it would blow the driver/executors. (The
            # count is needed below for the commit-path decision anyway.)
            n_dirty = dirty.count()
            truth = self.src.read(
                keys=keys if small_keys else None,  # -> bucket pruning
                after_ns=int(bounds["lo"]),
                before_ns=int(bounds["hi"]) + self.interval_ns,
            )
            rolled = self._aggregate(truth).join(
                F.broadcast(dirty) if n_dirty <= 65536 else dirty,
                ["key", "ts"],
                "left_semi",
            )

            # Small steady-state refreshes skip the Spark write job: the
            # result is dirty-set-bounded, and the driver-side pyarrow
            # commit (same bucketed layout, same atomic rename) avoids a
            # saveAsTable round trip that is pure fixed cost at this
            # size (measured ~5 s for an 8k-row commit).
            if n_dirty <= 65536:
                rows = [r.asDict() for r in rolled.collect()]
                txname = self.dst.commit_rows(rows) if rows else None
            else:
                txname = self.dst.commit_dataframe(
                    rolled, check_duplicates=False
                )
        finally:
            dirty.unpersist()
        self._store_cursor(last_tx)
        return txname

    def stream(
        self,
        checkpoint_dir: str,
        *,
        trigger_seconds: float | None = None,
        max_files_per_trigger: int | None = None,
    ):
        """Continuously maintain the rollup from live commits: tail the
        source database (``tail_records``) and run one incremental
        ``refresh()`` per micro-batch. Returns the started
        ``StreamingQuery`` (stop() to end).

        The tail stream is the TRIGGER, not the data path: refresh()
        reads new runs via its own durable txname cursor, so a replayed
        or empty micro-batch is a no-op and the rollup converges to the
        batch ``refresh()`` result regardless of how commits interleave
        with triggers (test-asserted). Using the cursor instead of the
        batch rows keeps one correctness contract for both the batch and
        streaming paths — the dirty-set scan re-lists O(new runs), the
        same cost the batch already pays.
        """
        from sonnerie_spark.streaming.tail import tail_records

        tail = tail_records(
            self.src, max_files_per_trigger=max_files_per_trigger
        )

        def _refresh(batch_df, batch_id) -> None:
            self.refresh()

        w = tail.writeStream.foreachBatch(_refresh).option(
            "checkpointLocation", checkpoint_dir
        )
        if trigger_seconds is not None:
            w = w.trigger(processingTime=f"{trigger_seconds} seconds")
        return w.start()

    def refresh_full(self) -> str:
        """Rebuild from scratch: an unbounded delete marker (clears every
        earlier rollup row, including buckets that no longer exist in the
        source) followed by a full recompute commit. Use after source
        deletes or a transform-compaction; each commit is atomic but a
        reader between the two sees an empty rollup."""
        # Cursor from a listing taken BEFORE the rebuild reads: a tx
        # that lands mid-rebuild may or may not make it into this
        # aggregate, so it must stay AFTER the cursor — the next
        # incremental refresh then reprocesses it (idempotent upsert);
        # the reverse order would mark it processed and lose it.
        runs = [r.name for r in self.src.data_runs() if r.name.startswith("tx.")]
        self.dst.commit_deletes([{}])
        rolled = self._aggregate(self.src.read())
        txname = self.dst.commit_dataframe(rolled, check_duplicates=False)
        self._store_cursor(max(runs) if runs else "")
        return txname

    # -- read --------------------------------------------------------------

    def read(self, **read_kwargs) -> DataFrame:
        """The rollup as (key, bucket_ts, n, sum, min, max, mean); accepts
        Database.read filters (wildcard=, after_ns=, ...). With
        num_values=m > 1, the stat columns are suffixed per value column
        (n1..nm, sum1..summ, ...); m=1 keeps the unsuffixed names."""
        r = self.dst.read(**read_kwargs)
        m = self.num_values
        cols = ["key", F.col("ts").alias("bucket_ts")]
        for j in range(m):
            sfx = "" if m == 1 else str(j + 1)
            n = F.element_at("v_long", j + 1)
            s = F.element_at("v_double", j + 1)
            cols += [
                n.alias(f"n{sfx}"),
                s.alias(f"sum{sfx}"),
                F.element_at("v_double", m + j + 1).alias(f"min{sfx}"),
                F.element_at("v_double", 2 * m + j + 1).alias(f"max{sfx}"),
                (s / n).alias(f"mean{sfx}"),
            ]
        return r.select(*cols)
