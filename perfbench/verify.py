"""Reopen a database in a fresh process and dump everything it reads.

    python3 perfbench/verify.py DB_DIR

Opens ``Database`` without a Spark session (point reads need none) and
reads the whole database through the prefix fast path with the empty
prefix (one merge pass over every run, last writer wins, delete markers
applied). Prints ``@@ {"rows": {key: [[ts, value], ...]}}``. Nothing
from the writer process is shared: no footer cache, no handle.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from sonnerie_spark.db import Database

    db = Database(None, sys.argv[1])
    rows: dict[str, list] = {}
    for r in db.get_prefix("", max_groups=1 << 30):
        rows.setdefault(r["key"], []).append([r["ts"], r["v_long"][0]])
    sys.stdout.write("@@ " + json.dumps({"rows": rows}) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
