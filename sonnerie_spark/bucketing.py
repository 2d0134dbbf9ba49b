"""Key-bucketed run layout: the shuffle-free multi-run read design.

Every data run is written hash-bucketed by ``key`` into a fixed,
database-wide number of buckets B (persisted in ``db_dir/BUCKETS``),
using Spark's own bucket function (``pmod(murmur3(key), B)``) and
Spark's bucket file naming (``..._00007.c000.zstd.parquet``). Because
all runs share one bucket function, every record of a given key — in
every transaction — lives in bucket files with the same bucket id.

Reads exploit this: a multi-run scan is exposed to Spark as an external
bucketed table (one hard-linked view directory of all run files), so
``FileSourceScan`` reports ``HashPartitioning(key, B)`` and groups the
k per-run files of each bucket into ONE task. The last-writer-wins
``groupBy(key, ts)`` then satisfies its clustering requirement straight
from the scan — NO Exchange — which removes the measured 15x multi-run
read cliff (SCALE.md): the k-way LSM merge happens bucket-locally,
exactly like the reference's per-shard heap merge (merge.rs:48-181),
but declared to Catalyst rather than hand-scheduled.

Compaction inherits the same property: bucketed scan in, bucket-aligned
write out — a zero-shuffle merge.

Sizing B: locally B defaults to ``spark.sql.shuffle.partitions``. On a
real cluster pick B so one bucket of the LARGEST expected run fits a
task comfortably (e.g. 100 TB main / 4096 buckets = ~25 GB per bucket
file; bucketed scans cannot split a file, so prefer more, smaller
buckets — thousands — at warehouse scale). B is also the aggregation-
spill knob, measured: a 100 M-row 4-run merged read takes 88 s at B=32
(per-task LWW state spills) and 32.4 s at B=128 with nothing else
changed (SCALE.md).

This module holds the engine-portable pieces: a pure-Python
reimplementation of Spark's Murmur3 (seed 42) so the driver-side
pyarrow writer (``db.Transaction``, which ``commit_rows`` feeds) and
point reader
(``pointread.py``) can compute the same bucket id Spark's JVM writer
does, plus Spark's bucket-file-name convention.
"""

from __future__ import annotations

import re

BUCKETS_FILE = "BUCKETS"

# Per-run marker recording the bucket count B the run was WRITTEN with.
# The database-wide BUCKETS value can change (rebucket()); during the
# window between the swap and the major compaction — or forever, after a
# crash in between — runs of the old B coexist with the new setting. A
# run is treated as bucket-aligned/prunable only when its recorded B
# equals the reader's current B; any mismatch (or a missing marker)
# falls back to the shuffle-dedup read and unpruned point read, which
# are correct at any B. The leading underscore keeps the marker out of
# Spark's file listing (same convention as _SUCCESS).
RUN_BUCKETS_FILE = "_B"


def write_run_buckets(run_path: str, b: int) -> None:
    """Record the bucket count a run directory was written with."""
    import os

    with open(os.path.join(run_path, RUN_BUCKETS_FILE), "w") as f:
        f.write(str(int(b)))


def read_run_buckets(run_path: str) -> int | None:
    """The run's recorded bucket count, or None (legacy/unknown)."""
    import os

    try:
        with open(os.path.join(run_path, RUN_BUCKETS_FILE)) as f:
            return max(1, int(f.read().strip()))
    except (OSError, ValueError):
        return None


# Per-run uniqueness marker: present iff the writer PROVED the run holds
# no duplicate (key, ts) — the Transaction paths enforce it row-by-row,
# commit_dataframe's duplicate observation verifies it riding the sort
# pass, and compaction output is LWW-merged. Reads resolve (key, ts) to
# ONE surviving record always; the marker only lets a single-run read
# elide the dedup aggregation (the hot steady-state scan). A run missing
# the marker (check_duplicates=False commit that actually contained
# duplicates, legacy layout, gegnum transform output) stays readable —
# its single-run read plans the same LWW dedup a multi-run read would.
# ``Database.runs()`` records its presence as ``RunInfo.unique``.
RUN_UNIQUE_FILE = "_U"


def write_run_unique(run_path: str) -> None:
    """Record that a run directory is (key, ts)-duplicate-free."""
    import os

    with open(os.path.join(run_path, RUN_UNIQUE_FILE), "w") as f:
        f.write("1")


# Spark BucketingUtils.getBucketId file-name convention: the bucket id
# is the last _<digits> group before the (optional) extensions.
_BUCKET_NAME_RE = re.compile(r".*_(\d+)(?:\..*)?$")

_M32 = 0xFFFFFFFF


def spark_murmur3_str(s: str, seed: int = 42) -> int:
    """Spark's ``hash()`` of a string: Murmur3 x86_32 over UTF-8 bytes.

    Bit-exact with ``org.apache.spark.sql.functions.hash`` (verified
    against the JVM in tests): 4-byte little-endian words, then each
    tail byte mixed individually as a SIGNED int (Spark's
    hashUnsafeBytes quirk — not standard Murmur3 tail handling).
    Returns the signed 32-bit result.
    """
    data = s.encode("utf-8")
    n = len(data)
    aligned = n - n % 4
    h1 = seed & _M32
    for i in range(0, aligned, 4):
        k1 = int.from_bytes(data[i : i + 4], "little")
        k1 = (k1 * 0xCC9E2D51) & _M32
        k1 = ((k1 << 15) | (k1 >> 17)) & _M32
        k1 = (k1 * 0x1B873593) & _M32
        h1 ^= k1
        h1 = ((h1 << 13) | (h1 >> 19)) & _M32
        h1 = (h1 * 5 + 0xE6546B64) & _M32
    for i in range(aligned, n):
        b = data[i]
        if b >= 128:
            b -= 256  # JVM bytes are signed
        k1 = b & _M32
        k1 = (k1 * 0xCC9E2D51) & _M32
        k1 = ((k1 << 15) | (k1 >> 17)) & _M32
        k1 = (k1 * 0x1B873593) & _M32
        h1 ^= k1
        h1 = ((h1 << 13) | (h1 >> 19)) & _M32
        h1 = (h1 * 5 + 0xE6546B64) & _M32
    h1 ^= n
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def bucket_of(key: str, num_buckets: int) -> int:
    """Spark's bucket id for ``key``: ``pmod(murmur3(key), B)``."""
    h = spark_murmur3_str(key)
    return ((h % num_buckets) + num_buckets) % num_buckets


def parse_bucket_id(filename: str) -> int | None:
    """Bucket id encoded in a run file name, or None if unbucketed."""
    m = _BUCKET_NAME_RE.match(filename)
    return int(m.group(1)) if m else None


def bucket_file_name(bucket: int, nonce: str) -> str:
    """A Spark-convention name for a driver-written bucket file."""
    return f"part-{bucket:05d}-{nonce}_{bucket:05d}.c000.parquet"
